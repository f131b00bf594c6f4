"""LLM-data-pipeline queries over the documents/embeddings fixture
tables: deduplication (exact / fingerprint / n-gram Jaccard /
MinHash-LSH / SimHash), similarity search (brute-force, IVF,
Pandas-GEMM), text analysis (quality, lang-id, token counts,
fingerprints), multimodal metadata.

Oracle-parity notes:
- Cosine similarity: Spark's sequential zip_with/aggregate fold is
  bit-identical to DuckDB's list_cosine_similarity on DOUBLE[]
  (verified exhaustively on the fixture data); ranking additionally
  tie-breaks on id.
- MinHash-LSH and SimHash chunk-banding have *provable* recall at the
  declared thresholds (banding math / pigeonhole), so their outputs
  equal the exact all-pairs oracle.
- The Pandas-GEMM ANN variant sums in a different order (BLAS) →
  rows-only check by design; a pytest asserts its neighbor sets match
  the fold-based query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions import fastdec
from ..operators import (
    dedup,
    multimodal,
    mutations,
    retrieval,
    similarity,
    textstats,
)
from ..session import local_frame

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            # shared-scalar splice: every oracle consuming the q38
            # quality score writes the placeholder, so the formula
            # has ONE SQL definition (_QUALITY_SCORE_SQL)
            ORACLES[name] = oracle.replace(
                "__QUALITY_SCORE__", _QUALITY_SCORE_SQL
            )
        fn.__query_name__ = name
        return fn

    return deco


# Lakes a query builds once per process and reads on every call (the
# near-dup and PQ indexes, the near-dup components, the drift and DP
# partials), keyed by (kind, sf_dir).
_LAKES: dict[tuple[str, str], str] = {}


def _temp_lake(kind: str, sf_dir: str, build, rebuild: bool = False) -> str:
    """The temp dir (prefix ``sg_<kind>_``) holding this process's
    ``kind`` lake for ``sf_dir``: made on first use, filled by
    ``build(dir)`` then — or on every call with ``rebuild`` — and
    removed at interpreter exit. A build that raises leaves no entry,
    so the next call builds again."""
    import atexit
    import shutil
    import tempfile

    key = (kind, sf_dir)
    base = _LAKES.get(key)
    if base is None or rebuild:
        if base is None:
            base = tempfile.mkdtemp(prefix=f"sg_{kind}_")
            atexit.register(shutil.rmtree, base, ignore_errors=True)
        build(base)
        _LAKES[key] = base
    return base


# Shared DuckDB CTE: distinct word-n-gram shingles per document.
# ONE definition of the shingle convention (incl. the sub-n
# full-text-as-one-shingle edge) for every oracle that consumes
# shingles — mirrors operators/dedup.py:shingle_set exactly.
def _shingles_cte(n: int) -> str:
    return f"""
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(words[i:i+{n - 1}], ' ') AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(words)-{n - 1}, 1))) AS i) t
    )
"""


_SHINGLES_CTE = _shingles_cte(5)


# Shared DuckDB CTE: EVERY word-n-gram occurrence with its 1-based
# token position — the bag/positional counterpart of _shingles_cte,
# mirroring operators/dedup.py:ngram_positions exactly (incl. the
# sub-n full-text-as-one-gram edge).
def _gram_pos_cte(n: int) -> str:
    return f"""
    gp AS (
        SELECT doc_id, i AS pos,
               array_to_string(words[i:i+{n - 1}], ' ') AS gram,
               len(words)::BIGINT AS n_tokens
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(words)-{n - 1}, 1))) AS i) t
    )
"""

# Shared DuckDB scalar: the q38 rule-based quality score (textstats.
# quality_score's composite) — ONE definition for every oracle that
# consumes the score, so a formula/stopword change can't silently
# leave one oracle testing stale semantics.
_QUALITY_SCORE_SQL = """ROUND((1 - ROUND(len(list_filter(string_split(text, ' '),
                         t -> t IN ('the','a','of','and','to','is','in'))) * 1.0
                     / len(string_split(text, ' ')), 4))
                     * least(len(string_split(text, ' '))::DOUBLE, 200.0)
                     / 200.0, 4)"""

_JACCARD_SQL = f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
"""


# ------------------------------------------------------------------ #
# dedup                                                               #
# ------------------------------------------------------------------ #


@q(
    "q31_dedup_exact_groups",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q31_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    return dedup.exact_dedup_groups(docs, "text", "doc_id")


@q(
    "q32_dedup_fingerprint_keep",
    """
    SELECT doc_id, fp FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
               row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                   ORDER BY doc_id) AS rn
        FROM documents) t
    WHERE rn = 1
    """,
)
def q32_dedup_fingerprint_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    fp = textstats.fingerprint(docs, "text")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select("doc_id", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@q("q33_ngram_jaccard_pairs", _JACCARD_SQL)
def q33_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inverted-index n-gram Jaccard (verification baseline)."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.7)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


@q("q34_minhash_lsh_pairs", _JACCARD_SQL)
def q34_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup path — same oracle as q33 because LSH
    recall at j≥0.7 is ≈1-4e-10 with 32×2 banding and candidates are
    verified with exact Jaccard."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=5, num_hashes=64, bands=32, threshold=0.7
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def _simhash_oracle() -> str:
    shi = ", ".join(
        f"SUM(((hi // {1 << k}) % 2) * 2 - 1) AS shi{k}, "
        f"SUM(((lo // {1 << k}) % 2) * 2 - 1) AS slo{k}"
        for k in range(32)
    )
    hi_sig = " + ".join(
        f"CASE WHEN shi{k} >= 0 THEN {1 << k} ELSE 0 END" for k in range(32)
    )
    lo_sig = " + ".join(
        f"CASE WHEN slo{k} >= 0 THEN {1 << k} ELSE 0 END" for k in range(32)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    hs AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS lo
        FROM sh
    ),
    sums AS (SELECT doc_id, {shi} FROM hs GROUP BY doc_id),
    sig AS (SELECT doc_id, ({hi_sig})::BIGINT AS sim_hi,
                   ({lo_sig})::BIGINT AS sim_lo FROM sums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (bit_count(xor(a.sim_hi, b.sim_hi))
            + bit_count(xor(a.sim_lo, b.sim_lo)))::INT AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_hi, b.sim_hi))
          + bit_count(xor(a.sim_lo, b.sim_lo)) <= 6
    """


@q("q35_simhash_pairs", _simhash_oracle())
def q35_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: md5-based 64-bit signatures; candidates via
    8×8-bit chunk pigeonhole (exact recall for hamming ≤ 7) then
    exact hamming ≤ 6 — equals the oracle's brute-force all-pairs."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.simhash_pairs(docs, "text", "doc_id", n=5, max_hamming=6)
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# ------------------------------------------------------------------ #
# similarity search                                                   #
# ------------------------------------------------------------------ #


@q(
    "q36_ann_bruteforce_topk",
    """
    WITH v AS (
        -- a zero-norm vector is similar to nothing: NULL, as in cosine()
        SELECT vec_id,
               CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
                    THEN embedding::DOUBLE[] END AS ve
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               list_cosine_similarity(qv, ve) AS cos
        FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank::INT AS rank, ROUND(cos, 6) AS score
    FROM (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) t
    WHERE rank <= 5
    """,
)
def q36_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=5)


@q(
    "q37_embedding_neardup",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.ve, b.ve), 6) AS score
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.ve, b.ve) >= 0.45
    """,
)
def q37_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, "embeddings", sf_dir)
    return similarity.cosine_neardup_pairs(emb, threshold=0.45)


@q(
    "q42_ann_ivf_topk",
    """
    WITH v AS (
        -- a zero-norm vector is similar to nothing: NULL, as in cosine()
        SELECT vec_id,
               CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
                    THEN embedding::DOUBLE[] END AS ve
        FROM embeddings),
    cents AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, cid AS cluster_id FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY list_cosine_similarity(v.ve, c.cv) DESC, c.cid) AS rn
            FROM v CROSS JOIN cents c) t
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 10),
    probes AS (
        SELECT query_id, qv, cid AS cluster_id FROM (
            SELECT q.query_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c) t
        WHERE rn <= 4),
    scored AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, v.ve) AS cos
        FROM probes p
        JOIN assign a ON a.cluster_id = p.cluster_id
        JOIN v ON v.vec_id = a.vec_id
        WHERE v.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, rank::INT AS rank, ROUND(cos, 6) AS score
    FROM (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) t
    WHERE rank <= 5
    """,
)
def q42_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN: deterministic centroid set (id < 16,
    k-means stand-in), nprobe=4. Oracle replicates the same plan."""
    emb = table(spark, "embeddings", sf_dir)
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=4)


@q("q44_ann_pandas_gemm_topk")  # rows-only: BLAS sum order ≠ fold order
def q44_ann_pandas_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.cosine_topk_pandas(emb, queries, k=5)


@q("q47_approx_distinct")  # rows-only: HLL sketch is engine-specific
def q47_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting — the sketch-based scale path
    for A1/A2-style DISTINCTs (one pass, mergeable state, no wide
    shuffle). Exact twin alongside so the error is observable; a
    pytest bounds it at 5%."""
    li = table(spark, "lineitem", sf_dir)
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@q("q48_ann_hyperplane_lsh")  # rows-only: probabilistic recall by design
def q48_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup (SimHash on floats) — the
    bucketed scale path for TRUE near-duplicate detection; recall is
    measured in tests, not asserted by the gate.

    Operating point: 16 planes × 4 tables. 8-bit signatures (r02)
    gave only 256 buckets/table → giant buckets → candidate-pair
    explosion; 16 bits keeps buckets near-singleton. The recall math
    sets the operator's honest domain: per-bit agreement is 1-θ/π,
    so at cos≥0.95 (θ≤0.32) recall = 1-(1-0.899^16)^4 ≈ 0.75+ and
    climbs to ≈1 by cos 0.99 — but at the fixture corpus's weakly
    similar pairs (max cos 0.51, p≈0.66) recall is ~p^16·4 ≈ 0 for
    ANY config with sub-linear bucket sizes. Low thresholds are
    exact-q37 territory (block-nested all-pairs); LSH is for the
    cos≥0.9 regime. The query therefore demonstrates that regime:
    the corpus is augmented with one deterministically perturbed
    copy of each vec_id<100 (unit vectors + ε·sin noise ⇒ cos
    ≈0.998), and LSH recovers those planted near-dup pairs."""
    emb = table(spark, "embeddings", sf_dir)
    planted = emb.where(F.col("vec_id") < 100).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(x + 0.01 * sin(vec_id * 17 + i) as float))"
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    return similarity.hyperplane_lsh_neardup(
        corpus, threshold=0.95, n_planes=16, n_tables=4
    )


@q(
    "q53_group_zscore",
    """
    WITH stats AS (
        SELECT event_type, COUNT(*) AS n,
               (SUM(value::DECIMAL(28,6)))::DOUBLE AS s,
               (SUM((value*value)::DECIMAL(38,12)))::DOUBLE AS ss
        FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           CASE WHEN t.n < 2 THEN NULL
                WHEN sqrt((t.ss - t.s * t.s / t.n) / (t.n - 1)) = 0
                THEN NULL
                ELSE ROUND((e.value - t.s / t.n)
                     / sqrt((t.ss - t.s * t.s / t.n) / (t.n - 1)), 6)
           END AS zscore
    FROM events e JOIN stats t ON e.event_type = t.event_type
    """,
)
def q53_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization, exact path: decimal-exact moments +
    broadcast join back — deterministic to the bit (oracled)."""
    from ..operators.groupstats import zscore_exact

    ev = table(spark, "events", sf_dir)
    return zscore_exact(ev, "event_type", "value", "event_id")


@q("q54_group_zscore_pandas")  # rows-only: numpy reductions ≠ bitwise
def q54_group_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas twin of q53 — the grouped-map Arrow surface;
    equality to ~1e-9 asserted in tests."""
    from ..operators.groupstats import zscore_pandas

    ev = table(spark, "events", sf_dir)
    return zscore_pandas(ev, "event_type", "value", "event_id")


@q(
    "q52_hash_split",
    """
    WITH labeled AS (
        SELECT doc_id,
               CASE WHEN b >= 0 AND b < 80 THEN 'train'
                    WHEN b >= 80 AND b < 90 THEN 'val'
                    WHEN b >= 90 AND b < 100 THEN 'test'
                    ELSE 'rest' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
              FROM documents) t)
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM labeled GROUP BY split
    """,
)
def q52_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split — stable across
    runs, partitionings, and engines (unlike randomSplit). The split
    label is a pure function of the id; the oracle reproduces it."""
    from ..operators.sampling import hash_split

    docs = table(spark, "documents", sf_dir)
    labeled = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ------------------------------------------------------------------ #
# text analysis                                                       #
# ------------------------------------------------------------------ #


@q(
    "q38_text_quality",
    """
    SELECT doc_id,
           len(string_split(text, ' '))::INT AS n_tokens,
           ROUND((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           ROUND(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','to','is','in'))) * 1.0
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           __QUALITY_SCORE__ AS quality_score
    FROM documents
    """,
)
def q38_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    return textstats.quality_score(docs, "text").drop("text")


def _langid_oracle() -> str:
    from ..operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({})))::INT AS score_{}".format(
            ",".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    whens = " ".join(
        "WHEN score_{l} > 0 AND {conds} THEN '{l}'".format(
            l=lang,
            conds=" AND ".join(
                f"score_{lang} >= score_{o}" for o in langs if o != lang
            ),
        )
        for lang in langs
    )
    cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
    SELECT doc_id, lang, {cols},
           CASE {whens} ELSE 'und' END AS predicted_lang
    FROM (SELECT doc_id, lang, {score_cols} FROM documents) t
    """


@q("q39_lang_id", _langid_oracle())
def q39_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    return textstats.lang_id(docs, "text").drop("text")


@q(
    "q40_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' '))::INT AS n_tokens,
           len(regexp_split_to_array(text, '\\s+'))::INT AS n_ws_tokens,
           length(text)::INT AS n_chars,
           (length(text) + 3) // 4 AS bpe_est
    FROM documents
    """,
)
def q40_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.size(F.split("text", "\\s+")).alias("n_ws_tokens"),
        n_chars.alias("n_chars"),
        F.floor((n_chars + 3) / 4).cast("bigint").alias("bpe_est"),
    )


@q(
    "q41_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q41_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, "documents", sf_dir)
    return docs.select("doc_id", textstats.fingerprint(docs, "text").alias("fp"))


@q(
    "q57_dataset_mixing",
    """
    WITH hashed AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        FROM documents),
    kept AS (
        SELECT doc_id, source FROM hashed
        WHERE b < CASE WHEN source = 'src0' THEN 100
                       WHEN source = 'src1' THEN 50
                       WHEN source = 'src2' THEN 25
                       ELSE 10 END)
    SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_id
    FROM kept GROUP BY source
    """,
)
def q57_dataset_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: upweight src0 (keep all),
    downsample the rest to target fractions — per-source kept counts
    as the audit output."""
    from ..operators.sampling import mix_sources

    docs = table(spark, "documents", sf_dir)
    mixed = mix_sources(
        docs,
        "doc_id",
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_weight=0.1,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_id")
    )


@q(
    "q55_curation_pipeline",
    """
    WITH fp AS (
        SELECT doc_id, lang, n_chars,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id <> keep_id THEN 'duplicate'
                WHEN n_chars < 100 THEN 'too_short'
                WHEN n_chars > 400 THEN 'too_long'
                WHEN lang NOT IN ('de','en','es','fr') THEN 'unsupported_lang'
                ELSE 'kept' END AS status
    FROM fp
    """,
)
def q55_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4-style curation: exact-dup gate → length bounds →
    language allowlist, emitting the FIRST failing rule per document
    (the audit trail a training-data pipeline keeps). One scan + one
    window; rules are pure expressions."""
    from pyspark.sql.window import Window

    docs = table(spark, "documents", sf_dir)
    keep_id = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    status = (
        F.when(F.col("doc_id") != keep_id, F.lit("duplicate"))
        .when(F.col("n_chars") < 100, F.lit("too_short"))
        .when(F.col("n_chars") > 400, F.lit("too_long"))
        .when(
            ~F.col("lang").isin("de", "en", "es", "fr"),
            F.lit("unsupported_lang"),
        )
        .otherwise(F.lit("kept"))
    )
    return docs.select("doc_id", status.alias("status"))


_ASOF_TOLERANCE_DAYS = 90


@q(
    "q56_asof_join",
    f"""
    WITH r AS (
        SELECT o_custkey AS user_id, o_orderdate,
               MAX(o_orderkey) AS last_orderkey
        FROM orders GROUP BY 1, 2),
    cand AS (
        SELECT e.event_id, e.user_id, r.last_orderkey, r.o_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY r.o_orderdate DESC) AS rn
        FROM events e LEFT JOIN r
          ON e.user_id = r.user_id AND r.o_orderdate <= e.ts
             AND r.o_orderdate >= e.ts - INTERVAL {_ASOF_TOLERANCE_DAYS} DAY)
    SELECT event_id, user_id, last_orderkey,
           o_orderdate AS last_orderdate
    FROM cand WHERE rn = 1
    """,
)
def q56_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event joined to its user's latest prior
    order WITHIN a 90-day tolerance. Right side pre-deduped per
    (user, ts) so ties are deterministic.

    The tolerance is load-bearing at scale (matching the reference's
    bounded point-in-interval attribution, src/helper_functions.py:
    76-85): without it the candidate join pairs each event with the
    user's ENTIRE order history before the window keeps rn=1 —
    per-key fan-out ∝ history length. The oracle is the equivalent
    bounded window form (DuckDB's native ASOF JOIN cannot carry a
    lower bound)."""
    from ..operators.rangejoin import as_of_join

    ev = table(spark, "events", sf_dir)
    orders = (
        table(spark, "orders", sf_dir)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    joined = as_of_join(
        ev, orders, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        left_id="event_id",
        tolerance_seconds=_ASOF_TOLERANCE_DAYS * 86400,
    )
    return joined.select(
        "event_id",
        ev["user_id"],
        "last_orderkey",
        F.col("o_orderdate").alias("last_orderdate"),
    )


# ------------------------------------------------------------------ #
# multimodal plumbing                                                 #
# ------------------------------------------------------------------ #


@q(
    "q43_multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q43_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path: text→bytes stands in for a media
    payload; byte length + content hash are the JVM-side (pre-decode)
    metadata every multimodal pipeline computes first."""
    docs = table(spark, "documents", sf_dir)
    payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return multimodal.attach_payload_meta(payload, "payload").select(
        "doc_id", "n_bytes", "payload_md5"
    )


# ------------------------------------------------------------------ #
# round-2 curation operators                                          #
# ------------------------------------------------------------------ #


@q(
    "q61_repetition_ratio",
    """
    WITH g AS (
        SELECT doc_id, array_to_string(words[i:i+2], ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(words)-2, 1))) AS i) t
    )
    SELECT doc_id, COUNT(*)::INT AS n_grams,
           COUNT(DISTINCT gram)::INT AS n_distinct,
           ROUND(1 - COUNT(DISTINCT gram) * 1.0 / COUNT(*), 4) AS rep_ratio
    FROM g GROUP BY doc_id
    """,
)
def q61_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter input: the
    whole n-gram analysis stays inside one row (array expressions) —
    no explode, no shuffle, unlike the oracle's unnest+GROUP BY."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    return textstats.repetition_ratio(docs, "text", n=3).select(
        "doc_id", "n_grams", "n_distinct", "rep_ratio"
    )


@q(
    "q62_pii_redaction",
    """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@mail.example or call 555' || doc_id::VARCHAR AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{4,}', '<NUM>', 'g') AS redacted,
           (len(regexp_split_to_array(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
            + len(regexp_split_to_array(
                regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                '[0-9]{4,}'))
            - 2)::INT AS n_redactions
    FROM aug
    """,
)
def q62_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically augmented corpus (the
    fixture text carries no emails/numbers, so both engines append
    the same synthetic contact string per doc_id)."""
    docs = table(spark, "documents", sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or call 555"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return textstats.pii_redact(aug, "text").select(
        "doc_id", "redacted", "n_redactions"
    )


@q(
    "q63_stratified_sample",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM documents) t
    WHERE rn <= 20
    """,
)
def q63_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (smallest md5 wins
    the lottery) — engine-portable unlike sample()/randomSplit."""
    from ..operators.sampling import stratified_sample

    docs = table(spark, "documents", sf_dir).select("doc_id", "lang")
    return stratified_sample(docs, "lang", "doc_id", k=20)


@q(
    "q64_sequence_packing",
    """
    WITH sized AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM documents),
    binned AS (
        SELECT source, n_tok,
               floor(COALESCE(SUM(n_tok) OVER (PARTITION BY source
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) / 512)::INT AS bin_idx
        FROM sized)
    SELECT source, bin_idx, COUNT(*)::INT AS n_docs,
           (SUM(n_tok))::BIGINT AS bin_tokens
    FROM binned GROUP BY source, bin_idx
    """,
)
def q64_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-capacity training-bin assignment (sequence packing
    estimate): exclusive prefix-sum of token counts per source, one
    window per group, integer-exact."""
    from ..operators.sampling import sequence_packing

    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    packed = sequence_packing(docs, "source", "doc_id", F.col("n_tok"), 512)
    return packed.groupBy("source", "bin_idx").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
    )


@q(
    "q65_int8_quantize",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform(ve,
               x -> floor(x * 127.0 + 0.5)::INT), ',') AS qvec_csv,
           ROUND(sqrt(list_sum(list_transform(ve,
               x -> (x - floor(x * 127.0 + 0.5) / 127.0)
                  * (x - floor(x * 127.0 + 0.5) / 127.0)))), 6) AS dequant_err
    FROM v
    """,
)
def q65_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding compression with explicit half-up
    rounding (floor(x*s+0.5)) so both engines quantize identically.

    The gate-facing shape serializes the quantized vector to a CSV
    string (``array_join`` / ``array_to_string``): array<int> columns
    are unsortable by the driver's pandas canonicalizer, and a
    delimiter-stable string round-trips hashing identically in both
    engines. :func:`similarity.quantize_int8` still returns the real
    array<int> column for programmatic use."""
    emb = table(spark, "embeddings", sf_dir)
    return similarity.quantize_int8(emb).select(
        "vec_id",
        F.array_join("qvec", ",").alias("qvec_csv"),
        "dequant_err",
    )


# ------------------------------------------------------------------ #
# dedup clustering + corpus analytics (round 2)                       #
# ------------------------------------------------------------------ #


def _jaccard_pairs_cte(threshold: float) -> str:
    """Non-recursive CTE chain yielding near-dup pairs at ``threshold``
    (same shingle machinery as q33's oracle)."""
    return f"""
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {threshold}
    )
"""


@q(
    "q66_dedup_clusters",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component_id
    FROM reach GROUP BY node
    """,
)
def q66_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-dup pairs: every document labeled
    with its duplicate-cluster canonical id (min doc id reachable).
    The step the reference's exact-key dedup (src/db_ops.py
    insert-if-absent) lacks and an LLM curation pipeline needs —
    pairwise near-dup relations are not transitive, clusters are.
    Oracle = DuckDB recursive CTE over the same Jaccard≥0.5 pairs."""
    from ..operators import graph

    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.5)
    return graph.dedup_clusters(docs, pairs)


@q(
    "q67_event_pivot",
    """
    SELECT user_id,
           (SUM(CASE WHEN event_type = 'click'    THEN value::DECIMAL(28,6) END))::DOUBLE AS click,
           (SUM(CASE WHEN event_type = 'error'    THEN value::DECIMAL(28,6) END))::DOUBLE AS error,
           (SUM(CASE WHEN event_type = 'purchase' THEN value::DECIMAL(28,6) END))::DOUBLE AS purchase,
           (SUM(CASE WHEN event_type = 'signup'   THEN value::DECIMAL(28,6) END))::DOUBLE AS signup,
           (SUM(CASE WHEN event_type = 'view'     THEN value::DECIMAL(28,6) END))::DOUBLE AS view_v
    FROM events GROUP BY user_id
    """,
)
def q67_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot (long events -> one column per event type).
    The pivot value list is EXPLICIT — omitting it makes Spark run an
    extra distinct-scan job to discover values, a full pass over the
    fact table at 100 TB.  Sums are decimal-cast for order-independent
    exactness (the q01 convention)."""
    ev = table(spark, "events", sf_dir)
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.sum(F.col("value").cast("decimal(28,6)")))
    )
    out = piv.select(
        "user_id",
        *[
            F.col(c).cast("double").alias("view_v" if c == "view" else c)
            for c in ["click", "error", "purchase", "signup", "view"]
        ],
    )
    return out


@q(
    "q68_audience_setops",
    """
    SELECT 'both'::VARCHAR AS segment, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'signup')
    UNION ALL
    SELECT 'purchase_only', user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'signup')
    UNION ALL
    SELECT 'signup_only', user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'signup'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def q68_audience_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT audience segmentation.  ``intersect`` /
    ``subtract`` are ANSI set (distinct) semantics — Spark plans both
    as key-partitioned semi/anti joins after distinct, so all three
    branches shuffle on the same key and AQE reuses the exchange."""
    ev = table(spark, "events", sf_dir)
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    signups = ev.where(F.col("event_type") == "signup").select("user_id")

    def seg(df: DataFrame, label: str) -> DataFrame:
        return df.select(F.lit(label).alias("segment"), "user_id")

    return (
        seg(buyers.intersect(signups), "both")
        .unionByName(seg(buyers.subtract(signups), "purchase_only"))
        .unionByName(seg(signups.subtract(buyers), "signup_only"))
    )


@q(
    "q69_doc_length_deciles",
    """
    SELECT doc_id,
           (NTILE(10) OVER (ORDER BY n_chars, doc_id))::INT AS decile
    FROM documents
    """,
)
def q69_doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-quality decile assignment via NTILE over a deterministic
    total order (tie-break on doc_id).  Scale note: a global NTILE
    serializes through one task; at 100 TB replace with
    approx-percentile cut points broadcast back (the q50/q47 sketch
    family) — this exact form is the oracle-checkable baseline."""
    docs = table(spark, "documents", sf_dir)
    w = Window.orderBy("n_chars", "doc_id")
    return docs.select("doc_id", F.ntile(10).over(w).alias("decile"))


@q("q72_deciles_scale")  # rows-only: sketch cut points are engine-specific
def q72_deciles_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of q69: decile assignment via approx-percentile
    cut points broadcast back as a map-side expression — no global
    single-task NTILE window. Agreement with the exact q69 is
    asserted in tests/test_scale_twins.py; the sketch itself is
    engine-specific, hence rows-only."""
    from ..operators.groupstats import quantile_buckets

    docs = table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    return quantile_buckets(docs, "n_chars", n_buckets=10).select(
        "doc_id", F.col("bucket").alias("decile")
    )


@q(
    "q70_term_doc_freq",
    """
    WITH terms AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents) t
        WHERE term <> '')
    SELECT term, (COUNT(*))::BIGINT AS df
    FROM terms GROUP BY term
    ORDER BY df DESC, term LIMIT 25
    """,
)
def q70_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency top-k (the DF half of TF-IDF and the
    stopword-discovery primitive).  Explode -> per-doc distinct ->
    count: the distinct is partial-aggregated map-side before the
    term shuffle, and only (term, doc_id) pairs ever move."""
    docs = table(spark, "documents", sf_dir)
    terms = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(25)
    )


@q(
    "q71_event_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.9), 4)  AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def q71_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (linear interpolation).  Spark's
    percentile() is a partial-mergeable aggregate — the right exact
    shape; at 100 TB switch to approx_percentile (t-digest sketch,
    bounded memory), which q50's profiler already demonstrates."""
    ev = table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


@q(
    "q75_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
        WHERE t.term <> ''
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    )
    SELECT doc_id, rnk, term, tf, df FROM (
        SELECT tf.doc_id, tf.term, tf.tf, idf.df,
               row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, idf.df ASC, tf.term) AS rnk
        FROM tf JOIN idf USING (term)) ranked
    WHERE rnk <= 3
    """,
)
def q75_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms — the TF×IDF primitive
    with a float-free ordering (tf DESC, df ASC, term) so the result
    is bit-exact across engines: ``tf·ln(N/df)`` ranks *identically*
    for fixed tf, and the integer lexicographic order sidesteps
    cross-engine ``ln`` ULP divergence entirely (the float score is a
    one-line extension once exactness isn't required).

    Scale: tf is a (doc_id, term) groupBy (partial-aggregated
    map-side); df reuses the same token stream; the tf⋈df join
    shuffles on term — at corpus scale the df side is a dictionary
    table, orders of magnitude smaller than tf, and AQE picks the
    broadcast. The final per-doc window repartitions by doc_id only.
    """
    docs = table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_tbl, "term")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df")
    )


@q("q85_tfidf_float_scores")  # rows-only: ln() ULP divergence across engines
def q85_tfidf_float_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The practical float-scored TF-IDF twin of q75: per-document
    top-3 terms by ``tf · ln(N/df)`` — the one-line extension q75's
    docstring promises. Rows-only by design: ``ln`` ULP behavior
    differs across engines, so the exact-integer ordering (q75)
    carries the cross-engine attestation and this variant is gated by
    a tolerance test (tests/test_approx.py:14) against an
    independent pandas recomputation instead.

    Plan shape is identical to q75 (same tf/df aggregates, same
    broadcast-able df dictionary join, same per-doc window); the only
    addition is the scalar score projection, so q75's 100 TB notes
    apply unchanged."""
    docs = table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row aggregate — stays lazy, no
    # driver-side count at plan-build time
    n_tbl = docs.agg(F.count_distinct("doc_id").alias("__N"))
    score = F.col("tf") * F.log(F.col("__N") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_tbl))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df", F.round("score", 6).alias("score"))
    )


@q("q74_kmeans_ivf_topk")  # rows-only: iterative float fit, no SQL twin
def q74_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over *fitted* centroids: distributed Lloyd's k-means
    (operators/clustering.py) replaces q42's deterministic id-prefix
    centroid stand-in, then the same nprobe-pruned top-k search.
    Rows-only by design: the fit is iterative over float means, so no
    SQL oracle — ``tests/test_clustering.py`` asserts inertia descent
    and recall vs the brute-force baseline instead."""
    from ..operators import clustering

    emb = table(spark, "embeddings", sf_dir)
    cents = clustering.kmeans_fit(
        emb, k=16, id_col="vec_id", vec_col="embedding", n_iter=2
    )
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb,
        queries,
        cents,
        k=5,
        nprobe=4,
        id_col="vec_id",
        vec_col="embedding",
    )


@q(
    "q76_winnow_fingerprints",
    """
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS ntok
        FROM documents
    ),
    grams AS (
        SELECT doc_id, t.i AS pos, ntok,
               ('0x' || substr(md5(array_to_string(
                   list_slice(toks, t.i, t.i + 4), ' ')), 1, 8))::BIGINT AS h
        FROM base, unnest(range(1, greatest(ntok - 5, 0) + 2)) AS t(i)
    ),
    fps AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               pos, greatest(ntok - 4, 1) AS g
        FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM fps
    WHERE pos <= greatest(g - 3, 1)
    """,
)
def q76_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5 word grams, window=4): the
    rolling-hash selection scheme — any shared run of ≥ 8 tokens
    between two documents is guaranteed to share a fingerprint,
    storing only ~2/(window+1) of the gram hashes. The md5-prefix
    hash is engine-portable, so the DuckDB oracle reproduces the
    exact fingerprint set (positions, window minima and all)."""
    docs = table(spark, "documents", sf_dir)
    return dedup.winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)


@q(
    "q77_cluster_centroid_sums",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    cents AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, cid AS cluster_id FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY list_cosine_similarity(v.ve, c.cv) DESC, c.cid) AS rn
            FROM v CROSS JOIN cents c) t
        WHERE rn = 1)
    SELECT a.cluster_id, t.i::INT AS pos,
           COUNT(*) AS n,
           ROUND(SUM(v.ve[t.i + 1]::DECIMAL(30, 10)), 6)::DOUBLE AS s
    FROM assign a
    JOIN v USING (vec_id),
    unnest(range(len(v.ve))) AS t(i)
    GROUP BY a.cluster_id, t.i
    """,
)
def q77_cluster_centroid_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster element-wise partial aggregates (count + exact
    decimal sum per dimension) over the q42 deterministic cluster
    assignment — the k-means update step in its oracle-checkable
    form. The mean is s/n; emitting the partials keeps the result
    bit-exact across engines (decimal sums are order-independent,
    double division is not). Plan: broadcast-argmin assignment, then
    posexplode + one (cluster, pos) groupBy whose shuffle carries
    k×dim partial rows after map-side combine — the exact shape
    kmeans_fit iterates."""
    from ..operators.similarity import ivf_assign

    emb = table(spark, "embeddings", sf_dir)
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = ivf_assign(emb, centroids, "vec_id", "embedding")
    return (
        emb.join(assign, "vec_id")
        .select(
            "cluster_id",
            F.posexplode(
                F.transform(
                    "embedding", lambda x: x.cast("decimal(30,10)")
                )
            ).alias("pos", "x"),
        )
        .groupBy("cluster_id", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("x"), 6).cast("double").alias("s"),
        )
    )


@q("q78_multimodal_features")  # rows-only: the decode kernel is a
# deterministic Python fake (FNV fold over payload bytes) with no
# SQL twin; the Spark-side plumbing (Arrow batches, binary columns,
# output schema) is what the query attests.
def q78_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media feature extraction over binary payloads
    via the REAL `payload_features` kernel (text bytes here take the
    raw byte-band signature path; decodable containers route through
    the nine from-scratch decoders). Exercises the full mapInPandas
    path: binary column in, typed feature vector out."""
    docs = table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text").alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    out = multimodal.extract_features(media, dim=8)
    return out.select(
        "media_id",
        "n_bytes",
        "payload_md5",
        F.size("feat").alias("feat_dim"),
    )


@q(
    "q79_frame_sample_plan",
    """
    SELECT doc_id AS media_id, t.f * 1000 AS frame_ts_ms
    FROM (SELECT doc_id, least((n_chars * 10) // 1000 + 1, 32) AS nf
          FROM documents) d,
    unnest(range(d.nf)) AS t(f)
    """,
)
def q79_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per (media_id, frame_ts) to
    decode — the shuffle-free explode that spreads per-frame work
    across the cluster (synthetic duration = n_chars × 10 ms). The
    plan is pure integer arithmetic, so the oracle checks it exactly;
    the per-frame decode is the stubbed kernel."""
    docs = table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )
    plan = multimodal.frame_sample_plan(media, every_ms=1000, max_frames=32)
    return plan.select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


@q(
    "q80_per_source_dup_stats",
    """
    WITH h AS (
        SELECT source, md5(text) AS ch, COUNT(*) OVER (PARTITION BY md5(text)) AS cnt
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_in_dup_groups,
           ROUND(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
               AS dup_rate
    FROM h GROUP BY source
    """,
)
def q80_per_source_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation telemetry: per-source exact-duplicate exposure (how
    much of each source sits in a >1-member content group) — the
    first dashboard a corpus owner asks for. Duplicate groups span
    sources, so the content-hash count is global (one window over the
    hash) and the rollup groups by source."""
    docs = table(spark, "documents", sf_dir)
    w = Window.partitionBy(F.md5(F.col("text")))
    h = docs.select(
        "source", F.count(F.lit(1)).over(w).alias("cnt")
    )
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
            "n_in_dup_groups"
        ),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("dup_rate"),
    )


@q(
    "q81_event_funnel",
    """
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN f USING (user_id)
        WHERE e.event_type = 'click' AND f.t_view IS NOT NULL
              AND e.ts >= f.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT COUNT(f.t_view)::BIGINT AS n_view,
           COUNT(c.t_click)::BIGINT AS n_click_after_view,
           COUNT(p.t_purchase)::BIGINT AS n_purchase_after_click
    FROM f LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q81_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: users who viewed, then clicked at-or-after
    the first view, then purchased at-or-after that first click —
    the ordered-step conversion count every event pipeline reports.

    One pass per step keyed on user_id: each stage is a groupBy-min
    over the events of one type joined against the previous stage's
    first-timestamps (broadcast-sized: ≤ one row per user). No
    window over the full event stream, no per-user sort — the shape
    scales as rounds of partial-aggregated min-joins."""
    ev = table(spark, "events", sf_dir)
    f = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(f, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        f.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_click_after_view"),
            F.count("t_purchase").alias("n_purchase_after_click"),
        )
    )


@q(
    "q82_rolling_daily_events",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               (CAST(ts AS DATE) - DATE '1970-01-01') AS day_num,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
           SUM(n_events) OVER (ORDER BY day_num
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS rolling_7d
    FROM daily
    """,
)
def q82_rolling_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day event volume by day — the sliding time-series
    rollup every activity dashboard needs. Both engines order the
    range frame on integer days-since-epoch, so the frame edges are
    exact. The unpartitioned window runs on the DAILY rollup (one
    row per day — bounded), never the raw stream; at 100 TB the raw
    aggregation is the usual partial-combined groupBy and only the
    tiny daily table passes through the global window."""
    ev = table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.sum("n_events").over(w).alias("rolling_7d"),
    )


@q(
    "q83_cross_source_leakage",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
          AND da.source <> db.source
    """,
)
def q83_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: NEAR-duplicate pairs whose two
    documents come from different sources — the leakage a
    training-data pipeline must catch before a benchmark split ships
    (near-)verbatim inside the training set. Same inverted-index
    Jaccard machinery as q33; the source attribution joins attach to
    the (tiny) verified pair set, never the corpus."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.7
    )
    src = docs.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("source_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("source_b"),
            ),
            "doc_b",
        )
        .where(F.col("source_a") != F.col("source_b"))
        .select(
            "doc_a",
            "doc_b",
            "source_a",
            "source_b",
            F.round("jaccard", 4).alias("jaccard"),
        )
    )


@q(
    "q84_incremental_neardup",
    f"""
    WITH {_SHINGLES_CTE},
    cut AS (
        SELECT CAST(FLOOR(MAX(doc_id) * 0.9) AS BIGINT) AS c
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS new_id, b.doc_id AS index_id, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        WHERE a.doc_id >= (SELECT c FROM cut)
          AND b.doc_id <  (SELECT c FROM cut)
        GROUP BY 1, 2
    )
    SELECT new_id, index_id,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = new_id
    JOIN sizes sb ON sb.doc_id = index_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
    """,
)
def q84_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion near-dup gate: the newest ~10% of
    documents (doc_id ≥ floor(0.9·max) stands in for an arriving
    batch) probed against the persisted corpus index — the
    reference's incremental anti-join gate
    (etl_pipeline_script.py:128-133) generalized from exact keys to
    near-duplicates, and the flow a continuously-ingesting
    training-data pipeline actually runs: batch ≪ corpus, so only
    the batch's bands probe the index; corpus never self-pairs. The
    cutoff is scale-RELATIVE (a fixed id would invert batch/corpus
    proportions at larger SFs, benchmarking the wrong regime).
    Recall is the same provable ≈1 LSH banding bound as q34, so the
    exact-Jaccard oracle matches. (The benchmark cost of this query
    is dominated by the one-off index BUILD, re-run every invocation
    by construction; deployed, the index is a lake table amortized
    across every arriving batch and the probe itself is the only
    per-batch cost.)"""
    old, new = _neardup_corpus_split(spark, sf_dir)
    index = dedup.build_neardup_index(old, "text", "doc_id")
    pairs = dedup.incremental_neardup_pairs(
        new, index, "text", "doc_id", threshold=0.7, materialize=False
    )
    return pairs.select(
        "new_id", "index_id", F.round("jaccard", 4).alias("jaccard")
    )


def _neardup_corpus_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, arriving-batch) split shared by q84/q103/q104: the
    newest ~10% of documents stand in for an incoming batch. The
    1-row cutoff aggregate is broadcast into both filters: stays one
    lazy plan (no driver collect) and the scan under each side still
    prunes via the pushed doc_id comparison at runtime (AQE)."""
    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(
        F.floor(F.max("doc_id") * 0.9).cast("long").alias("__cut")
    )
    both = docs.crossJoin(F.broadcast(cut))
    old = both.where(F.col("doc_id") < F.col("__cut")).drop("__cut")
    new = both.where(F.col("doc_id") >= F.col("__cut")).drop("__cut")
    return old, new


# Materialized near-dup index paths, one per (process, sf_dir) — the
# deployed amortization: the index is a lake table written once per
# corpus snapshot and probed by every arriving batch. q103 measures
# the build+write, q104 the probe; bench's min-of-3 on q104 therefore
# tracks the per-batch cost a deployed pipeline pays (round-4 verdict:
# the combined q84 number was ~all one-off build cost, hiding probe
# regressions).
def _build_and_write_neardup_index(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """The ``sg_neardup_idx_`` lake for ``sf_dir`` (:func:`_temp_lake`),
    (re)built with ``rebuild`` — the full deployed build, parquet
    writes included: the (id, bands, shingles) index itself PLUS the
    pre-exploded, hot-bucket-pruned bands table probes join against
    (dedup.explode_index_bands), so per-probe cost excludes the
    corpus-band explode and the degenerate-bucket prepass."""
    import os

    def build(base: str) -> None:
        idx_path = os.path.join(base, "index")
        old, _ = _neardup_corpus_split(spark, sf_dir)
        dedup.build_neardup_index(old, "text", "doc_id").write.mode(
            "overwrite"
        ).parquet(idx_path)
        index = spark.read.parquet(idx_path)
        dedup.explode_index_bands(index, "doc_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(base, "bands"))

    return _temp_lake("neardup_idx", sf_dir, build, rebuild)


def _materialized_neardup_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(index, pre-exploded bands) read from the materialized build,
    building first only if this process hasn't yet (a probe's
    steady-state cost excludes the amortized build)."""
    import os

    base = _build_and_write_neardup_index(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(base, "index")),
        spark.read.parquet(os.path.join(base, "bands")),
    )


@q(
    "q103_neardup_index_build",
    f"""
    WITH {_SHINGLES_CTE},
    cut AS (
        SELECT CAST(FLOOR(MAX(doc_id) * 0.9) AS BIGINT) AS c
        FROM documents
    )
    SELECT COUNT(DISTINCT doc_id) AS n_index_docs
    FROM sh WHERE doc_id < (SELECT c FROM cut)
    """,
)
def q103_neardup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-off half of q84, benchmarked separately: build the
    corpus near-dup index (minhash bands + hashed shingle sets,
    dedup.build_neardup_index) and WRITE it to the lake stand-in —
    the full deployed build cost, parquet write included, re-run
    every invocation by design. Returns the count of indexed
    documents read back from the written files, so the oracle attests
    the build actually landed one row per corpus document (every doc
    yields ≥1 shingle: shorter-than-n docs contribute their full text
    as one)."""
    import os

    base = _build_and_write_neardup_index(spark, sf_dir, rebuild=True)
    return spark.read.parquet(os.path.join(base, "index")).agg(
        F.count(F.lit(1)).alias("n_index_docs")
    )


@q("q104_neardup_probe", ORACLES["q84_incremental_neardup"])
def q104_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-batch half of q84, benchmarked separately: probe the
    MATERIALIZED corpus index (built at most once per process by
    q103/this query, amortized exactly like the deployed lake table)
    with the arriving batch. Same pair semantics and oracle as q84 —
    LSH banding recall is provably ≈1 at j ≥ 0.7, and verification
    is exact-Jaccard over the stored hashed shingle sets — so this
    row stays green while the bench's min-of-3 isolates the
    steady-state probe cost: index scan + one-sided band join +
    intersect-verify, shuffle ∝ batch size + matched index rows."""
    _, new = _neardup_corpus_split(spark, sf_dir)
    index, idx_bands = _materialized_neardup_index(spark, sf_dir)
    pairs = dedup.incremental_neardup_pairs(
        new, index, "text", "doc_id", threshold=0.7, index_bands=idx_bands,
        materialize=False,
    )
    return pairs.select(
        "new_id", "index_id", F.round("jaccard", 4).alias("jaccard")
    )


# ------------------------------------------------------------------ #
# round-4 additions: membership gate / sub-doc dedup / decontam /     #
# SCD2 / scale-twin sampling / semantic dedup                         #
# ------------------------------------------------------------------ #


@q(
    "q86_bloom_prefilter_gate",
    """
    SELECT DISTINCT user_id FROM events
    WHERE user_id IS NOT NULL
      AND user_id NOT IN (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q86_bloom_prefilter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental NOT-IN gate
    (etl_pipeline_script.py:128-133) at firehose scale: a broadcast
    Bloom-style bucket sketch routes provably-new keys around the
    exact anti-join's shuffle; only sketch-positive keys (members +
    false positives) pay it. Exact NOT IN semantics — the sketch
    routes, the anti-join decides (operators/membership.py)."""
    from ..operators import membership

    ev = table(spark, "events", sf_dir)
    existing = table(spark, "customer", sf_dir).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    return membership.prefiltered_new_keys(
        ev, existing, "user_id", "c_custkey"
    )


@q(
    "q87_chunk_dedup",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT doc_id, generate_subscripts(t, 1) AS gs, unnest(t) AS tok
        FROM toks),
    chunks AS (
        SELECT doc_id, CAST(FLOOR((gs - 1) / 20) AS BIGINT) AS chunk_idx,
               string_agg(tok, ' ' ORDER BY gs) AS chunk
        FROM g GROUP BY 1, 2),
    ranked AS (
        SELECT doc_id, chunk_idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                   ORDER BY doc_id, chunk_idx) AS rn,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_chunks
        FROM chunks)
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
           MAX(n_chunks) AS n_chunks,
           COUNT(*) AS n_kept
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
)
def q87_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplicate-passage removal (C4/RefinedWeb line
    dedup over fixed 20-token chunks): each chunk survives only at
    its first corpus-wide occurrence; documents reassemble from
    surviving chunks (operators/dedup.py:chunk_dedup_keep)."""
    docs = table(spark, "documents", sf_dir)
    return dedup.chunk_dedup_keep(docs, "text", "doc_id", chunk_tokens=20)


@q(
    "q88_ngram_decontamination",
    """
    WITH sh8 AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(words[i:i+7], ' ') AS g
        FROM (SELECT doc_id, source, string_split(text, ' ') AS words
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1,
                 greatest(len(words) - 7, 1))) AS i) t)
    SELECT a.doc_id, COUNT(*) AS n_shared_grams
    FROM (SELECT doc_id, g FROM sh8 WHERE source <> 'src6') a
    JOIN (SELECT DISTINCT g FROM sh8 WHERE source = 'src6') b USING (g)
    GROUP BY 1
    """,
)
def q88_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination by exact 8-gram overlap (the GPT-3
    appendix-C check): every train document (source ≠ src6) sharing
    ≥1 word 8-gram with the held-out source, with the count of its
    distinct contaminated grams (operators/dedup.py:
    ngram_contamination)."""
    docs = table(spark, "documents", sf_dir)
    test = docs.where(F.col("source") == "src6")
    train = docs.where(F.col("source") != "src6")
    return dedup.ngram_contamination(train, test, "text", "doc_id", n=8)


@q(
    "q89_scd2_intervals",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_type) AS prev
        FROM events),
    runs AS (
        SELECT user_id, event_type, ts FROM ordered
        WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_type) AS valid_to
    FROM runs
    """,
)
def q89_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from a change feed: collapse each user's
    event_type stream into validity intervals (valid_from, valid_to;
    NULL = current) — the history table the reference's MERGE-
    maintained current-state dimension (src/db_ops.py:62-149) cannot
    answer, and the dimension side an as-of join (q56) consumes
    (operators/scd.py)."""
    from ..operators import scd

    ev = table(spark, "events", sf_dir)
    return scd.scd2_intervals(ev, "user_id", "event_type", "ts")


@q(
    "q90_stratified_sample_scale",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM documents) t
    WHERE rn <= 20
    """,
)
def q90_stratified_sample_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of q63: the same deterministic k-smallest-by-hash
    stratified sample computed with the two-phase (salted shard
    top-k, then bounded merge) plan, so a mega-stratum never
    serializes through one window task. Oracle identical to q63's —
    the driver attests plan-for-plan equality
    (operators/sampling.py:stratified_sample_scale)."""
    from ..operators import sampling

    docs = table(spark, "documents", sf_dir)
    return sampling.stratified_sample_scale(
        docs, "lang", "doc_id", k=20
    ).select("doc_id", "lang")


@q("q91_semantic_neardup")
def q91_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means buckets the
    embedding corpus, pairs form within (multi-probe) clusters only,
    exact cosine verifies — the sub-quadratic scale twin of q37's
    block-nested exact plan. Rows-only by design (k-means bucketing
    is engine-specific); tests/test_similarity.py asserts recall vs
    q37's exact pair set at the same threshold
    (operators/similarity.py:semantic_neardup). k auto-sizes to
    constant cluster occupancy — the probe-measured scale rule (a
    fixed k turns candidate pairs quadratic; see scaling_probe)."""
    emb = table(spark, "embeddings", sf_dir)
    return similarity.semantic_neardup(
        emb, "vec_id", "embedding", threshold=0.45, n_iter=1, probe=4
    )


@q("q105_semantic_neardup_two_level")
def q105_semantic_neardup_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q91 with two-level (coarse → fine) centroid routing
    (similarity.nearest_centroids_two_level) — the assignment shape
    for corpora past the flat assigner's 2¹⁶ auto-k cap (~10⁸
    vectors at constant cluster occupancy): only the ~√k coarse
    table is ever collected; fine centroids stay distributed and
    meet their vectors in a cell-cogrouped Arrow kernel. Rows-only
    like q91; tests/test_similarity.py asserts assignment agreement
    with the flat path (≥95%) and pair recall vs the exact O(N²)
    baseline; the scaling probe records its exponent alongside
    q91's."""
    emb = table(spark, "embeddings", sf_dir)
    return similarity.semantic_neardup(
        emb, "vec_id", "embedding", threshold=0.45, n_iter=1, probe=4,
        routing="two_level",
    )


@q(
    "q92_cluster_representatives",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(lbl) AS component_id
        FROM reach GROUP BY node
    ),
    quality AS (
        SELECT doc_id,
               __QUALITY_SCORE__ AS quality_score
        FROM documents
    )
    SELECT component_id, doc_id AS keep_id, quality_score, n_docs
    FROM (
        SELECT c.component_id, c.doc_id, q.quality_score,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                   ORDER BY q.quality_score DESC, c.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY c.component_id) AS n_docs
        FROM comp c JOIN quality q USING (doc_id)) t
    WHERE rn = 1
    """,
)
def q92_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: near-dup clusters (q66's
    transitive closure) keep their HIGHEST-QUALITY member instead of
    the min-id — the curation decision an LLM pipeline actually makes
    when collapsing a duplicate cluster (quality heuristics from
    q38). Returns one row per cluster: (component_id, keep_id,
    quality_score, n_docs). Scale: quality is a narrow per-doc
    projection; the argmax is one window over the cluster id — both
    reuse q66's iteration output without another corpus pass."""
    from ..operators import graph

    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.5
    )
    comp = graph.dedup_clusters(docs, pairs)
    quality = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "quality_score")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.col("doc_id")
    )
    wc = Window.partitionBy("component_id")
    return (
        comp.join(quality, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .where(F.col("__rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("keep_id"),
            "quality_score",
            "n_docs",
        )
    )


@q(
    "q93_decontaminated_export",
    """
    WITH sh8 AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(words[i:i+7], ' ') AS g
        FROM (SELECT doc_id, source, string_split(text, ' ') AS words
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1,
                 greatest(len(words) - 7, 1))) AS i) t)
    SELECT doc_id, source, n_chars FROM documents
    WHERE source <> 'src6'
      AND doc_id NOT IN (
          SELECT a.doc_id
          FROM (SELECT doc_id, g FROM sh8 WHERE source <> 'src6') a
          JOIN (SELECT DISTINCT g FROM sh8 WHERE source = 'src6') b
               USING (g))
    """,
)
def q93_decontaminated_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination gate APPLIED: the training corpus (source
    ≠ src6) minus every document q88 flags — the anti-join export a
    pipeline runs after the audit. Scale: the contaminated-id set is
    tiny (flagged docs), so the anti-join broadcasts; no text moves
    except the surviving rows' own scan."""
    docs = table(spark, "documents", sf_dir)
    test = docs.where(F.col("source") == "src6")
    train = docs.where(F.col("source") != "src6")
    contaminated = dedup.ngram_contamination(
        train, test, "text", "doc_id", n=8
    ).select("doc_id")
    return train.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@q(
    "q94_wav_decode_meta",
    """
    SELECT doc_id AS media_id,
           (44 + 2 * (200 + (doc_id % 10) * 40))::BIGINT AS n_bytes,
           8000::INTEGER AS sample_rate,
           (200 + (doc_id % 10) * 40)::BIGINT AS n_samples,
           ((200 + (doc_id % 10) * 40) / 8)::INTEGER AS duration_ms
    FROM documents
    """,
)
def q94_wav_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end to end: per-document WAV payloads are
    synthesized as genuine RIFF/PCM16 containers (stdlib ``wave``
    writer), then decoded back by the REAL stdlib parser
    (multimodal.decode_wav_features) — container parse, sample
    extraction, feature reduction. The oracle predicts the integer
    metadata from the synthesis formula, so any corruption in the
    byte-level round trip (header layout, sample count, rate)
    hash-mismatches; the float features (RMS/ZCR/peak) are asserted
    against closed forms in tests/test_multimodal.py. Payload bytes
    never shuffle — synth and decode fuse into one narrow Arrow
    stage."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    # single-split fixture scan -> the whole synth/resize/decode
    # chain would run serially (the shingle_set trap); conditional,
    # so a multi-split warehouse scan is untouched
    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_wav(
                            100.0 + (i % 400),
                            sample_rate=8000,
                            n_samples=200 + (i % 10) * 40,
                        )
                        for i in ids
                    ],
                    "media_type": ["audio/wav"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    nparts = spark.sparkContext.defaultParallelism
    media = docs.repartition(nparts).mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    return multimodal.decode_media_features(media).select(
        "media_id", "n_bytes", "sample_rate", "n_samples", "duration_ms"
    )


@q(
    "q95_state_at_event",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_type) AS prev
        FROM events),
    runs AS (
        SELECT user_id, event_type, ts FROM ordered
        WHERE prev IS NULL OR prev <> event_type),
    dim AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_type) AS valid_to
        FROM runs)
    SELECT e.event_id, e.user_id, e.ts, d.state
    FROM events e JOIN dim d ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
)
def q95_state_at_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD-2 consume path, end to end: derive the interval
    history (q89) and attach each event's then-current state via the
    key-equi + range-residual join — the scale shape for
    corpus-sized dimension histories (no broadcast, no interval
    explosion; one key shuffle per side). Every event matches exactly
    one interval because scd2_intervals partitions time per key."""
    from ..operators import scd

    ev = table(spark, "events", sf_dir)
    hist = scd.scd2_intervals(ev, "user_id", "event_type", "ts")
    return scd.state_at(
        ev.select("event_id", "user_id", "ts"), hist, "user_id", "ts"
    ).select("event_id", "user_id", "ts", "state")


# ------------------------------------------------------------------ #
# round-4 continuation: snapshot diff / adaptive gate / shard        #
# manifest                                                           #
# ------------------------------------------------------------------ #


@q(
    "q96_snapshot_diff",
    """
    WITH prior AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN left(text, 20)
                        ELSE text END) AS h
        FROM documents WHERE doc_id % 11 <> 0),
    cur AS (
        SELECT doc_id, md5(text) AS h
        FROM documents WHERE doc_id % 13 <> 5)
    SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM prior p FULL JOIN cur c ON p.doc_id = c.doc_id
    WHERE p.doc_id IS NULL OR c.doc_id IS NULL OR p.h <> c.h
    """,
)
def q96_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — added / removed / changed documents
    between two corpus versions (the lake's `Lake.read(version=)`
    consume path: what changed between yesterday's snapshot and
    today's?). Deterministic simulation: the prior snapshot lacks
    every 11th doc (added since), truncates every 7th doc's text
    (changed since), and the current snapshot lacks doc_id % 13 = 5
    (removed since).

    Scale shape: each side projects to (doc_id, md5(text)) AT THE
    SCAN — the full-outer join shuffles 16-byte hashes, never
    document bodies, so diffing two 100 TB snapshots moves only
    ~id+hash per row. Unchanged rows (the overwhelming majority)
    are dropped before any further processing."""
    docs = table(spark, "documents", sf_dir)
    prior = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.expr("left(text, 20)")
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    cur = docs.where(F.col("doc_id") % 13 != 5).select(
        "doc_id", F.md5("text").alias("h")
    )
    j = prior.alias("p").join(
        cur.alias("c"), F.col("p.doc_id") == F.col("c.doc_id"), "full_outer"
    )
    return j.where(
        F.col("p.doc_id").isNull()
        | F.col("c.doc_id").isNull()
        | (F.col("p.h") != F.col("c.h"))
    ).select(
        F.coalesce("p.doc_id", "c.doc_id").alias("doc_id"),
        F.when(F.col("p.doc_id").isNull(), F.lit("added"))
        .when(F.col("c.doc_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


@q(
    "q97_adaptive_length_gate",
    """
    WITH th AS (
        SELECT source,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
        FROM documents GROUP BY source)
    SELECT d.source,
           ROUND(th.lo, 4) AS lo,
           ROUND(th.hi, 4) AS hi,
           CAST(SUM(CASE WHEN d.n_chars >= th.lo AND d.n_chars <= th.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.n_chars < th.lo OR d.n_chars > th.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM documents d JOIN th ON d.source = th.source
    GROUP BY d.source, th.lo, th.hi
    """,
)
def q97_adaptive_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality gate: each source's own p05/p95
    length band decides what survives — the curation pattern for
    heterogeneous corpora where one global threshold either guts a
    short-form source or admits a long-form source's boilerplate
    (per-domain adaptive filtering, a la CCNet's per-language
    buckets).

    Two passes, both scale-clean: pass 1 is a per-source exact
    percentile aggregate (partial-mergeable, same shape as q71; at
    100 TB swap in approx_percentile's t-digest); the resulting
    threshold table is one row per source — broadcast — so pass 2
    is a map-side join + partial-aggregated count, no fact-side
    shuffle beyond the final per-source rollup."""
    docs = table(spark, "documents", sf_dir)
    th = docs.groupBy("source").agg(
        F.percentile(F.col("n_chars").cast("double"), 0.05).alias("lo"),
        F.percentile(F.col("n_chars").cast("double"), 0.95).alias("hi"),
    )
    kept = (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    return (
        docs.join(F.broadcast(th), "source")
        .groupBy("source", "lo", "hi")
        .agg(
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum((~kept).cast("long")).alias("n_dropped"),
        )
        .select(
            "source",
            F.round("lo", 4).alias("lo"),
            F.round("hi", 4).alias("hi"),
            "n_kept",
            "n_dropped",
        )
    )


@q(
    "q98_shard_manifest",
    """
    WITH tok AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
        FROM documents),
    ranked AS (
        SELECT doc_id, n_tok,
               row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rnk
        FROM tok)
    SELECT CAST((rnk - 1) % 16 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM ranked GROUP BY 1
    """,
)
def q98_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard manifest: docs are round-robined into
    16 shards by global token-count rank (longest-processing-time
    round-robin — shard token sums stay within one max-doc of each
    other), the assignment a distributed dataloader consumes.

    No global single-partition window: the global rank comes from
    the q58 scale path — repartitionByRange on the rank key +
    sortWithinPartitions + arithmetic dense ids
    (mutations.assign_dense_ids), whose parity with row_number() is
    itself driver-attested by q58. Only a 1-row-per-partition count
    ever converges on one node."""
    docs = table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    ordered = tok.repartitionByRange(
        8, F.col("n_tok").desc(), F.col("doc_id")
    ).sortWithinPartitions(F.col("n_tok").desc(), F.col("doc_id"))
    ranked = mutations.assign_dense_ids(ordered, "rnk")
    return ranked.groupBy(
        ((F.col("rnk") - 1) % 16).cast("long").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
    )



def _synth_image_media(spark, sf_dir, dims, synth_fn, media_type):
    """Per-document constant-fill image payload table (MEDIA_SCHEMA):
    ``dims(doc_id) -> (width, height, value)`` rendered by
    ``synth_fn`` into genuine ``media_type`` containers. Shared by
    the image gate queries so the synth plumbing cannot drift
    between formats."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    # single-split fixture scan -> the whole synth/resize/decode
    # chain would run serially (the shingle_set trap); conditional,
    # so a multi-split warehouse scan is untouched
    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [synth_fn(*dims(i)) for i in ids],
                    "media_type": [media_type] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    return docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)


def _synth_ppm_media(spark, sf_dir, dims):
    return _synth_image_media(
        spark, sf_dir, dims, multimodal.synth_ppm, "image/ppm"
    )


def _ppm_meta_projection(decoded):
    """(media_id, n_bytes, width, height, mean_val) — the shared
    oracle-facing projection of a decoded constant-fill image."""
    return decoded.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.element_at("feat", 1) * 255)
        .cast("int")
        .alias("mean_val"),
    )


@q(
    "q99_ppm_decode_meta",
    """
    SELECT doc_id AS media_id,
           (9 + length(CAST(3 + doc_id % 6 AS VARCHAR))
              + length(CAST(2 + doc_id % 5 AS VARCHAR))
              + 3 * (3 + doc_id % 6) * (2 + doc_id % 5))::BIGINT AS n_bytes,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           (doc_id % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q99_ppm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end — q94's WAV twin for the image
    modality: per-document binary-PPM payloads are synthesized as
    genuine P6 containers (multimodal.synth_ppm), then decoded back
    by the REAL header+pixel parser (multimodal.decode_ppm_features)
    via the same Arrow dispatch. The oracle predicts container size,
    parsed dimensions, and the constant fill value recovered from
    the decoded per-channel mean — so a corruption anywhere in the
    byte-level round trip (header layout, row-major pixel order,
    normalization) hash-mismatches. Payload bytes never shuffle —
    synth and decode fuse into one narrow Arrow stage."""
    media = _synth_ppm_media(
        spark, sf_dir, lambda i: (3 + (i % 6), 2 + (i % 5), i % 256)
    )
    return _ppm_meta_projection(multimodal.decode_media_features(media))


@q(
    "q101_token_budget_apportion",
    """
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM tok),
    base AS (
        SELECT source, n_tokens,
               (1000000 * n_tokens) // t AS fl,
               (1000000 * n_tokens) % t AS rem
        FROM tok, tot),
    rk AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS r
        FROM base),
    l AS (SELECT CAST(1000000 - SUM(fl) AS BIGINT) AS leftover FROM base)
    SELECT source, n_tokens,
           CAST(fl + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS budget
    FROM rk, l
    """,
)
def q101_token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token budgets via largest-remainder (Hamilton)
    apportionment: a global budget of 1 000 000 tokens is split across
    sources proportional to their token mass, floors first, then one
    extra token to the largest remainders until the budget is exactly
    exhausted — Σ budget ≡ 1 000 000 by construction (asserted in
    tests). All integer arithmetic (DIV/%), so the result is
    bit-exact across engines — no float shares to drift.

    Scale: one partial-aggregated groupBy over the corpus produces
    the per-source token table; everything after runs on
    #sources-bounded rows (the global remainder window orders ~10¹-
    10³ rows, not corpus data), with the 1-row total and leftover
    aggregates broadcast."""
    docs = table(spark, "documents", sf_dir)
    # The per-source token table feeds three consumers (total,
    # floors, leftover) — materialize its #sources-bounded rows once
    # so the corpus is scanned exactly once, not once per consumer.
    tok = (
        docs.select(
            "source", F.size(F.split("text", " ")).cast("long").alias("tk")
        )
        .groupBy("source")
        .agg(F.sum("tk").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    tot = tok.agg(F.sum("n_tokens").alias("t"))
    base = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr("(1000000 * n_tokens) div t").alias("fl"),
        ((F.lit(1000000) * F.col("n_tokens")) % F.col("t")).alias("rem"),
    )
    leftover = base.agg(
        (F.lit(1000000) - F.sum("fl")).cast("long").alias("leftover")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        base.withColumn("r", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "n_tokens",
            (
                F.col("fl")
                + F.when(F.col("r") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("budget"),
        )
    )


@q("q100_cluster_balanced_sample")
def q100_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware subset selection: k-means clusters the
    embedding corpus, then an exactly-m-per-cluster deterministic
    hash lottery picks the sample — every semantic region is
    represented regardless of how skewed the corpus density is
    (cluster-balanced sampling; the embedding-space analogue of q63's
    per-stratum sampling). Rows-only: the k-means fit is iterative
    float state (tests assert the structural contract — ≤m per
    cluster, every non-tiny cluster represented).

    Scale: assignment is one broadcast-kernel pass (q74's shape); the
    lottery is a per-cluster window over (cluster, hash) — fully
    partition-parallel, no global window."""
    from ..operators import clustering

    emb = table(spark, "embeddings", sf_dir)
    cents = clustering.kmeans_fit(
        emb, k=8, id_col="vec_id", vec_col="embedding", n_iter=1
    )
    assigned = clustering.kmeans_assign(
        emb, cents, id_col="vec_id", vec_col="embedding"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.xxhash64("vec_id", F.lit(7)), F.col("vec_id")
    )
    return (
        assigned.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= 20)
        .select("vec_id", "cluster_id")
    )


@q(
    "q102_ppm_resize_meta",
    """
    SELECT doc_id AS media_id,
           47::BIGINT AS n_bytes,
           4::INTEGER AS width,
           3::INTEGER AS height,
           (doc_id % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q102_ppm_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal image chain, end to end and driver-
    attested: synthesize per-document P6 containers (variable
    dimensions, constant fill), REAL nearest-neighbor resize to a
    fixed 4×3 thumbnail (multimodal.resize_ppm — decode, numpy
    stride-sample, re-encode), then the REAL feature decode. The
    oracle pins the resized container size (11-byte header
    'P6\\n4 3\\n255\\n' + 36 pixel bytes = 47; q99's formula
    9 + len(w) + len(h) + 3wh is the general form), the parsed target dimensions, and the fill
    value recovered from the decoded means (nearest-neighbor
    sampling of a constant image is exactly that constant — any
    interpolation/index error breaks the hash). Payload bytes never
    shuffle: synth, resize, and decode fuse into one narrow Arrow
    pipeline."""
    media = _synth_ppm_media(
        spark, sf_dir, lambda i: (5 + (i % 9), 4 + (i % 7), i % 256)
    )
    resized = multimodal.resize_media(media, 4, 3).drop("resize_error")
    return _ppm_meta_projection(multimodal.decode_media_features(resized))


# ------------------------------------------------------------------ #
# round-5 additions: SCD-2 as-of snapshot / retention cohorts /       #
# verbatim decontamination                                            #
# ------------------------------------------------------------------ #


@q(
    "q106_scd2_asof_snapshot",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_type) AS prev
        FROM events),
    runs AS (
        SELECT user_id, event_type, ts FROM ordered
        WHERE prev IS NULL OR prev <> event_type),
    iv AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_type) AS valid_to
        FROM runs),
    cut AS (SELECT MAX(ts) AS t FROM events WHERE event_id % 10 = 0)
    SELECT user_id, state, valid_from
    FROM iv, cut
    WHERE valid_from <= t AND (valid_to IS NULL OR valid_to > t)
    """,
)
def q106_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction: every user's state AS
    OF a reference instant T — the query an SCD-2 history exists to
    answer and a MERGE-maintained current-state table cannot
    (reference src/db_ops.py:62-149 keeps only the latest value). T
    is a deterministic in-data instant (max ts over a fixed id
    slice), computed as a 1-row aggregate and broadcast into the
    interval filter — one lazy plan, no driver collect. Interval
    derivation is q89's audited shape (one key-partitioned window
    pair); the as-of filter is a residual predicate on it, so the
    whole snapshot costs one key shuffle at any corpus size."""
    from ..operators import scd

    ev = table(spark, "events", sf_dir)
    iv = scd.scd2_intervals(ev, "user_id", "event_type", "ts")
    cut = ev.where(F.col("event_id") % 10 == 0).agg(
        F.max("ts").alias("__t")
    )
    return (
        iv.crossJoin(F.broadcast(cut))
        .where(
            (F.col("valid_from") <= F.col("__t"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("__t")))
        )
        .select("user_id", "state", "valid_from")
    )


@q(
    "q107_retention_cohorts",
    """
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    acts AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events WHERE user_id IS NOT NULL)
    SELECT CAST(cw AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', cw, wk) // 7 AS INTEGER)
               AS week_offset,
           COUNT(*) AS n_users
    FROM acts JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def q107_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-activity
    week, counted in each subsequent week they return — the
    engagement analytic every event warehouse ships (the reference's
    rankings feed covers standings, not retention). Both engines
    truncate weeks to Monday and the offset is whole-day arithmetic
    over DATEs (rendered ISO-string for dtype-stable comparison), so
    the matrix is bit-portable. Plan: one groupBy for
    the cohort dimension, one distinct for (user, week) activity,
    one key-equi join — the cohort table is |users| rows and the join
    shuffles (user, week) pairs only; at 100 TB both aggregations
    partial-combine map-side and nothing exceeds |users| × active
    weeks."""
    ev = table(spark, "events", sf_dir).where(F.col("user_id").isNotNull())
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    acts = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    return (
        acts.join(firsts, "user_id")
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("wk", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@q(
    "q108_verbatim_decontamination",
    """
    WITH probes AS (
        SELECT doc_id AS probe_id,
               array_to_string((string_split(text, ' '))[1:8], ' ')
                   AS snippet
        FROM documents
        WHERE doc_id % 11 = 0 AND doc_id < 5000
          AND len(string_split(text, ' ')) >= 8)
    SELECT p.probe_id, d.doc_id AS hit_id
    FROM probes p JOIN documents d
      ON d.doc_id <> p.probe_id AND instr(d.text, p.snippet) > 0
    """,
)
def q108_verbatim_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring decontamination — the verbatim complement of
    q88's n-gram overlap (GPT-3 appx-C): each benchmark probe (here
    the leading 8-word snippet of a deterministic doc slice, standing
    in for a test-set prompt) is searched VERBATIM inside every
    training document; any containment is a leak, however the
    surrounding text differs. Plan: the probe set is benchmark-sized
    by construction (a test suite, not a corpus), so it folds into
    ONE broadcast array row and each training document evaluates a
    `filter(probes, p -> instr(text, p.snippet) > 0)` HOF in a
    single map-side pass — no per-pair row materialization (the
    broadcast nested-loop join streamed |probes|·|docs| joined rows
    just to discard them), no shuffle at all until the (tiny)
    exploded hit set. The scan side REPARTITIONS to full parallelism
    first: the instr sweep is the expensive per-row compute, and a
    narrow input (one split, for the single-file fixture) would run
    it serially — the same trap shingle_set documents; measured 10×
    at sf0.1. At 100 TB the per-doc cost is |probes| substring
    searches; past ~10⁴ probes move to q88's indexed n-gram path
    first and verbatim-check only its candidates."""
    docs = table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    probes = (
        docs.where(
            (F.col("doc_id") % 11 == 0)
            & (F.col("doc_id") < 5000)  # benchmark suites are FIXED-size:
            # a probe set growing with the corpus would turn the scan
            # quadratic, which is not the operator's contract
            & (F.size(toks) >= 8)
        )
        .select(
            F.col("doc_id").alias("probe_id"),
            F.concat_ws(" ", F.slice(toks, 1, 8)).alias("snippet"),
        )
        .agg(F.collect_list(F.struct("probe_id", "snippet")).alias("__ps"))
    )
    hits = F.filter(
        F.col("__ps"),
        lambda p: (p["probe_id"] != F.col("hit_id"))
        & (F.instr(F.col("text"), p["snippet"]) > 0),
    )
    from ..operators.similarity import ensure_parallelism

    return (
        ensure_parallelism(
            docs.select(F.col("doc_id").alias("hit_id"), "text")
        )
        .crossJoin(F.broadcast(probes))
        .select("hit_id", F.explode(hits).alias("__hit"))
        .select(F.col("__hit.probe_id").alias("probe_id"), "hit_id")
    )


@q("q109_pq_reconstruction")
def q109_pq_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression telemetry: fit per-subspace
    codebooks (8 subspaces × 16 centroids over the 64-dim corpus),
    encode every vector to 8 sub-centroid ids, decode, and report
    per-vector reconstruction error — the rollout check before an
    ANN index switches to PQ codes (operators/pq.py; Jégou et al.,
    TPAMI 2011). Rows-only by design (codebooks are iterative float
    state, like q74/q91); tests/test_pq.py pins the structural
    contract and the error-beats-baseline bar."""
    from ..operators import pq as pqmod

    emb = table(spark, "embeddings", sf_dir)
    return pqmod.pq_reconstruction_report(
        emb, "vec_id", "embedding", m=8, k=16, n_iter=1
    )


# Materialized PQ index per (process, sf_dir) — the deployed
# amortization, same pattern as the near-dup index (q103/q104):
# codebooks, codes, coarse cells, and cell assignments are BUILD
# artifacts written once per corpus snapshot; the search queries
# (q110/q115) read them, so bench's min-of-3 tracks the per-query
# serve cost (q109 keeps a fresh fit — it measures the build).
def _pq_index(spark: SparkSession, sf_dir: str):
    """(books, codes, cells, codes_with_cell) read from the
    materialized PQ build (the ``sg_pq_idx_`` lake of
    :func:`_temp_lake`), building once per process if absent."""
    import os

    from ..operators import clustering, pq as pqmod

    def build(base: str) -> None:
        emb = table(spark, "embeddings", sf_dir)
        books = pqmod.pq_fit(emb, "vec_id", "embedding", m=8, k=16, n_iter=1)
        books.write.mode("overwrite").parquet(os.path.join(base, "books"))
        books = spark.read.parquet(os.path.join(base, "books"))
        pqmod.pq_encode(emb, books, "vec_id", "embedding").write.mode(
            "overwrite"
        ).parquet(os.path.join(base, "codes"))
        cells = clustering.kmeans_fit(emb, 8, "vec_id", "embedding", n_iter=1)
        cells.write.mode("overwrite").parquet(os.path.join(base, "cells"))
        cells = spark.read.parquet(os.path.join(base, "cells"))
        codes = spark.read.parquet(os.path.join(base, "codes"))
        clustering.kmeans_assign(emb, cells, "vec_id", "embedding").withColumnRenamed(
            "cluster_id", "cell"
        ).join(codes, "vec_id").write.mode("overwrite").parquet(
            os.path.join(base, "codes_cell")
        )

    base = _temp_lake("pq_idx", sf_dir, build)
    return (
        spark.read.parquet(os.path.join(base, "books")),
        spark.read.parquet(os.path.join(base, "codes")),
        spark.read.parquet(os.path.join(base, "cells")),
        spark.read.parquet(os.path.join(base, "codes_cell")),
    )


@q("q110_pq_ann_topk")
def q110_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: answer a
    bounded query set from the MATERIALIZED codes alone — m table
    lookups + adds per corpus vector, the float embeddings never load
    at query time (operators/pq.py:pq_topk; Jégou et al., TPAMI 2011
    §IV.A). Codebooks/codes come from the per-process PQ build
    (amortized like a deployed index — q103/q104's pattern), so the
    timed cost is the serve path. The compressed-search complement
    of q42's IVF and q44's GEMM paths. Rows-only like its family
    (codebooks are iterative float state); tests/test_pq.py pins twin
    recall ≥0.8 at this operating point on planted structure."""
    from ..operators import pq as pqmod

    emb = table(spark, "embeddings", sf_dir)
    books, codes, _, _ = _pq_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pqmod.pq_topk(
        codes, books, queries, "vec_id", "embedding", "query_id", k=10
    )


@q(
    "q111_contamination_report",
    """
    WITH sh8 AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(words[i:i+7], ' ') AS g
        FROM (SELECT doc_id, source, string_split(text, ' ') AS words
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1,
                 greatest(len(words) - 7, 1))) AS i) t),
    ngram AS (
        SELECT a.doc_id, COUNT(*) AS n
        FROM (SELECT doc_id, g FROM sh8 WHERE source <> 'src6') a
        JOIN (SELECT DISTINCT g FROM sh8 WHERE source = 'src6') b USING (g)
        GROUP BY 1),
    probes AS (
        SELECT doc_id AS probe_id,
               array_to_string((string_split(text, ' '))[1:8], ' ')
                   AS snippet
        FROM documents
        WHERE doc_id % 11 = 0 AND doc_id < 5000
          AND len(string_split(text, ' ')) >= 8),
    verb AS (
        SELECT d.doc_id, COUNT(*) AS n
        FROM probes p JOIN documents d
          ON d.doc_id <> p.probe_id AND instr(d.text, p.snippet) > 0
        GROUP BY 1)
    SELECT 'ngram8' AS method, doc_id AS train_doc_id, n AS n_evidence
    FROM ngram
    UNION ALL
    SELECT 'verbatim', doc_id, n FROM verb
    """,
)
def q111_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined decontamination REPORT a training run ships with:
    every train document flagged by EITHER detector — q88's indexed
    8-gram overlap against the held-out source ('ngram8', evidence =
    distinct contaminated grams) or q108's verbatim probe containment
    ('verbatim', evidence = probes contained) — one normalized
    (method, train_doc_id, n_evidence) surface. Pure composition:
    both branches are the already-audited plans; the union adds no
    shuffle of its own."""
    docs = table(spark, "documents", sf_dir)
    ngram = dedup.ngram_contamination(
        docs.where(F.col("source") != "src6"),
        docs.where(F.col("source") == "src6"),
        "text",
        "doc_id",
        n=8,
    ).select(
        F.lit("ngram8").alias("method"),
        F.col("doc_id").alias("train_doc_id"),
        F.col("n_shared_grams").alias("n_evidence"),
    )
    verb = (
        q108_verbatim_decontamination(spark, sf_dir)
        .groupBy("hit_id")
        .agg(F.count(F.lit(1)).alias("n_evidence"))
        .select(
            F.lit("verbatim").alias("method"),
            F.col("hit_id").alias("train_doc_id"),
            "n_evidence",
        )
    )
    return ngram.unionByName(verb)


# Per-process materialized near-dup COMPONENT table (full-corpus
# n=5/0.5 Jaccard pairs -> transitive closure), the q103/q104 lake
# amortization pattern applied to the cluster table: q66 attests and
# times the live build every invocation; export-shaped consumers
# (q112) read the materialized table so their bench number is the
# serve path, not a rebuild of what a deployed pipeline maintains
# incrementally.
def _materialized_neardup_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The components table of the ``sg_neardup_comp_`` lake
    (:func:`_temp_lake`), built once per process."""
    import os

    from ..operators import graph

    def build(base: str) -> None:
        docs = table(spark, "documents", sf_dir)
        pairs = dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=5, threshold=0.5
        )
        graph.dedup_clusters(docs.select("doc_id"), pairs).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, "components"))

    base = _temp_lake("neardup_comp", sf_dir, build)
    return spark.read.parquet(os.path.join(base, "components"))


@q(
    "q112_neardup_dedup_export",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(lbl) AS component_id
        FROM reach GROUP BY node
    ),
    quality AS (
        SELECT doc_id,
               __QUALITY_SCORE__ AS quality_score
        FROM documents
    ),
    keep AS (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                       ORDER BY q.quality_score DESC, c.doc_id) AS rn
            FROM comp c JOIN quality q USING (doc_id)) t
        WHERE rn = 1
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN keep USING (doc_id)
    """,
)
def q112_neardup_dedup_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLIED near-dup dedup: the corpus with every near-dup
    cluster collapsed to its highest-quality representative (q92's
    selection) — singleton docs survive as their own cluster's
    representative, so this is exactly the deduplicated training
    corpus a curation pipeline exports (the q93 pattern applied to
    NEAR duplicates instead of n-gram contamination). The component
    table comes from the per-process materialized lake stand-in
    (_materialized_neardup_components — the q103/q104 amortization
    pattern: a deployed pipeline maintains its cluster table
    incrementally and exports FROM it, it does not re-derive the
    transitive closure per export), so bench's min-of-3 isolates the
    export serve path: quality scan + per-cluster argmax + one semi
    join; bodies never shuffle — the export projects
    (doc_id, lang, source) straight off the scan. Values are
    hash-identical to the live recompute (same deterministic
    pipeline; the oracle recomputes from scratch and still
    matches)."""
    docs = table(spark, "documents", sf_dir)
    comp = _materialized_neardup_components(spark, sf_dir)
    quality = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "quality_score")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.col("doc_id")
    )
    keep = (
        comp.join(quality, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


@q("q115_ivfpq_topk")
def q115_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack — IVF routing over PQ codes
    (operators/pq.py:ivfpq_topk; Jégou et al., TPAMI 2011 §V): a
    coarse k-means quantizer routes each query to its nprobe nearest
    cells and the ADC scan touches only those cells' codes — compute
    ~nprobe/n_cells of q110's full scan on top of the 32× byte
    compression, the shape a billion-vector index deploys (corpus
    written partitioned by cell → file pruning). Codebooks, cells,
    and cell-tagged codes come from the per-process materialized PQ
    build, so the timed cost is the serve path (q103/q104's
    amortization pattern). Rows-only like its family;
    tests/test_pq.py pins twin recall ≥0.7 and probed-cell-only
    results."""
    from ..operators import pq as pqmod

    emb = table(spark, "embeddings", sf_dir)
    books, _, cells, codes_cell = _pq_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pqmod.ivfpq_topk(
        codes_cell, books, cells, queries,
        "vec_id", "embedding", "query_id", k=10, nprobe=4,
    )


@q(
    "q117_embedding_standardize",
    """
    WITH x AS (
        SELECT vec_id, (i - 1)::INT AS pos,
               floor(embedding[i] * 1e6 + 0.5) / 1e6 AS v
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
    stats AS (
        SELECT pos,
               (SUM(v::DECIMAL(28,12)))::DOUBLE AS s1,
               (SUM((v*v)::DECIMAL(28,12)))::DOUBLE AS s2,
               COUNT(*) AS n
        FROM x GROUP BY pos)
    SELECT vec_id, pos,
           ROUND((v - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
    FROM x JOIN stats USING (pos)
    """,
)
def q117_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-standardization of the embedding corpus — the
    preprocessing step before distance-based ops (k-means, PQ,
    LSH) when dimensions carry different scales. Exact cross-engine
    parity via the q53 decimal-moments pattern PLUS a pre-
    quantization to 6 fractional digits (explicit half-up
    floor(x*1e6+0.5)/1e6, the int8-quantize trick) — full-precision
    doubles would otherwise hit each engine's decimal ROUNDING MODE
    at the cast (measured: 44 of 32k rows flipped). After it, Σv and
    Σv² accumulate as exact DECIMAL (order-independent) and the
    double finish (mean, variance, z) is a fixed chain of single
    IEEE ops — no tolerance needed. Plan: one posexplode, one (pos)-grouped
    partial-combining aggregate of 64 rows, one broadcast join back;
    element rows shuffle once. At 100 TB: identical shape — the
    stats table is |dims| rows regardless of corpus size."""
    emb = table(spark, "embeddings", sf_dir)
    x = emb.select(
        "vec_id",
        F.posexplode(similarity.as_double_vec("embedding")).alias("pos", "__r"),
    ).select(
        "vec_id",
        "pos",
        (F.floor(F.col("__r") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("v"),
    )
    dec = "decimal(28,12)"
    stats = x.groupBy("pos").agg(
        F.sum(F.col("v").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mu * mu
    return (
        x.join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            "pos",
            F.round((F.col("v") - mu) / F.sqrt(var), 6).alias("z"),
        )
    )


@q(
    "q118_grouped_correlation",
    """
    SELECT l_returnflag,
           ROUND(
             (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
           6) AS corr_qty_price,
           n
    FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               (SUM(l_quantity::DECIMAL(28,6)))::DOUBLE AS sx,
               (SUM(l_extendedprice::DECIMAL(28,6)))::DOUBLE AS sy,
               (SUM((l_quantity*l_quantity)::DECIMAL(28,6)))::DOUBLE AS sxx,
               (SUM((l_extendedprice*l_extendedprice)::DECIMAL(28,6)))::DOUBLE AS syy,
               (SUM((l_quantity*l_extendedprice)::DECIMAL(28,6)))::DOUBLE AS sxy
        FROM lineitem GROUP BY l_returnflag) t
    """,
)
def q118_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation (quantity vs extended price per
    return flag) with EXACT cross-engine parity: the five moment sums
    accumulate as DECIMAL — `corr()` built-ins are float-sum-order
    dependent and never hash-match across engines — and the
    correlation finish is a fixed chain of IEEE double ops. One
    partial-combining aggregate over the fact table; group count
    bounded by the flag cardinality."""
    li = table(spark, "lineitem", sf_dir)
    dec = "decimal(28,6)"
    # fastdec long-scaled sums for the four moments whose magnitude
    # and intrinsic granularity admit them (quantity is integral,
    # q*p is a 2dp product <= ~5e6); price**2 (~1.2e10) sits at the
    # double's 6dp precision edge and keeps the decimal cast — see
    # functions/fastdec.py for the measured contract
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        fastdec.dec_sum(F.col("l_quantity")).cast("double").alias("sx"),
        fastdec.dec_sum(F.col("l_extendedprice")).cast("double").alias("sy"),
        fastdec.dec_sum(F.col("l_quantity") * F.col("l_quantity"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast(dec))
        .cast("double")
        .alias("syy"),
        fastdec.dec_sum(F.col("l_quantity") * F.col("l_extendedprice"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return agg.select(
        "l_returnflag", F.round(corr, 6).alias("corr_qty_price"), "n"
    )


@q(
    "q120_quality_tier_budgets",
    """
    WITH scored AS (
        SELECT doc_id,
               __QUALITY_SCORE__ AS quality_score,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    tiered AS (
        SELECT n_tokens, quality_score,
               (NTILE(4) OVER (ORDER BY quality_score, doc_id))::INT AS tier
        FROM scored)
    SELECT tier, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(MIN(quality_score), 4) AS min_quality,
           ROUND(MAX(quality_score), 4) AS max_quality
    FROM tiered GROUP BY tier
    """,
)
def q120_quality_tier_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum tiering: the corpus split into 4 quality quartiles
    (q38's score, NTILE fully tie-broken on doc_id) with each tier's
    document count and token budget — the table a curriculum-ordered
    training run (low→high quality, or quality-weighted mixing à la
    q101's apportionment) is scheduled from. Scale: scoring is a
    narrow codegen projection; the NTILE is ONE global window — fine
    here because its input is the (doc_id, score, tokens) projection,
    never bodies; at 100 TB swap in the q69→q72 sketch-cutpoint
    pattern (approx quantile boundaries + map-side bucketing) exactly
    as the deciles family documents."""
    docs = table(spark, "documents", sf_dir)
    # quality_score already emits n_tokens — one scan, no join
    scored = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "n_tokens", F.col("quality_score").alias("__q"))
    w = Window.orderBy(F.col("__q"), F.col("doc_id"))
    return (
        scored.withColumn("tier", F.ntile(4).over(w))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.min("__q"), 4).alias("min_quality"),
            F.round(F.max("__q"), 4).alias("max_quality"),
        )
    )


@q("q121_ivfpq_rerank_topk")
def q121_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production ANN stack end to end: coarse cells
    route each query (IVF), ADC over PQ codes shortlists 4k
    candidates from compressed bytes, and exact cosine re-scores only
    the shortlist from true vectors (operators/pq.py:pq_rerank;
    Jégou et al. TPAMI 2011 §V.C) — compressed-domain speed with
    exact-score final ranking, the deployed shape of every
    billion-vector serving system. Index artifacts come from the
    materialized per-process PQ build, so the timed cost is the
    full serve path. Rows-only like its family; tests/test_pq.py
    pins rerank recall ≥0.9 on planted twins and bit-equality of
    reranked scores with the brute-force baseline."""
    from ..operators import pq as pqmod

    emb = table(spark, "embeddings", sf_dir)
    books, _, cells, codes_cell = _pq_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    shortlist = pqmod.ivfpq_topk(
        codes_cell, books, cells, queries,
        "vec_id", "embedding", "query_id", k=40, nprobe=4,
    )
    return pqmod.pq_rerank(
        shortlist, emb, queries, "vec_id", "embedding", "query_id", k=10
    )


@q("q122_quality_tiers_scale")  # rows-only: sketch cut points are engine-specific
def q122_quality_tiers_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of q120: quality-quartile token budgets via
    approx-quantile cut points broadcast back as a map-side bucketing
    expression (operators/groupstats.py:quantile_buckets) — no global
    single-task NTILE window, the same q69→q72 swap the deciles
    family documents. Same output shape as q120 (tier, n_docs,
    total_tokens, min/max quality) so a curriculum scheduler can
    consume either; tier populations are approximately — not
    exactly — equal (ties stay together), and
    tests/test_scale_twins.py pins ≥85% row-level tier agreement,
    off-by-≤1 worst case, and exact token-mass conservation against
    the exact q120 baseline."""
    from ..operators.groupstats import quantile_buckets

    docs = table(spark, "documents", sf_dir)
    scored = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "n_tokens", F.col("quality_score").alias("__q"))
    tiers = quantile_buckets(scored, "__q", n_buckets=4)
    return (
        tiers.groupBy(F.col("bucket").alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.min("__q"), 4).alias("min_quality"),
            F.round(F.max("__q"), 4).alias("max_quality"),
        )
    )


@q(
    "q127_fuzzy_blocked_pairs",
    """
    WITH b AS (
        SELECT doc_id, substr(text, 1, 16) AS blk,
               substr(text, 1, 60) AS probe
        FROM documents)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           levenshtein(a.probe, c.probe)::INT AS dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.probe, c.probe) <= 10
    """,
)
def q127_fuzzy_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy matching (operators/dedup.py:
    fuzzy_blocked_pairs): pairs whose 60-char leading probe is within
    10 Levenshtein edits, candidates blocked on the 16-char prefix —
    the edit-distance complement to the token-set dedup family,
    catching character-level noise (OCR, truncation, in-place edits)
    that shifts every shingle but leaves the prefix aligned. Exact
    integer distances, JVM codegen levenshtein, so the oracle
    hash-matches. The degenerate-block guard (max_block, LSH
    max_bucket posture) is inactive at fixture block sizes (≤4),
    keeping the oracle exact."""
    docs = table(spark, "documents", sf_dir)
    return dedup.fuzzy_blocked_pairs(
        docs, "text", "doc_id", block_len=16, probe_len=60, max_dist=10
    )


@q(
    "q125_embedding_drift",
    """
    WITH x AS (
        SELECT vec_id, (i - 1)::INT AS pos,
               floor(embedding[i] * 1e6 + 0.5) / 1e6 AS v
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
    s AS (
        SELECT pos,
               (SUM(v::DECIMAL(28,12)) FILTER (WHERE vec_id % 2 = 0))::DOUBLE AS s_old,
               COUNT(*) FILTER (WHERE vec_id % 2 = 0) AS n_old,
               (SUM(v::DECIMAL(28,12)) FILTER (WHERE vec_id % 2 = 1))::DOUBLE AS s_new,
               COUNT(*) FILTER (WHERE vec_id % 2 = 1) AS n_new
        FROM x GROUP BY pos)
    SELECT pos, ROUND(s_old / n_old, 6) AS mean_old,
           ROUND(s_new / n_new, 6) AS mean_new,
           ROUND(abs(s_new / n_new - s_old / n_old), 6) AS drift
    FROM s
    ORDER BY drift DESC, pos
    LIMIT 10
    """,
)
def q125_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding snapshot drift monitor — the telemetry an embedding
    refresh (new encoder version, re-crawled corpus) is gated on:
    per-dimension mean shift between an old and a new snapshot
    (modeled here by vec_id parity; in production the two sides are
    two lake snapshots), top-10 most-drifted dimensions. A drifted
    dimension invalidates PQ codebooks and k-means cells, so this
    report fronts every index rebuild decision. Exactness: the q117
    pattern — pre-quantize to 6 fractional digits, accumulate
    decimal moments (order-independent), finish with a fixed chain
    of IEEE ops. Plan: one posexplode, ONE (pos)-grouped
    partial-combining aggregate computing both snapshots' moments
    via conditional sums (no self-join of the two sides), |dims|
    rows out — identical shape at 100 TB."""
    emb = table(spark, "embeddings", sf_dir)
    x = emb.select(
        "vec_id",
        F.posexplode(similarity.as_double_vec("embedding")).alias(
            "pos", "__r"
        ),
    ).select(
        "vec_id",
        "pos",
        (F.floor(F.col("__r") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "v"
        ),
    )
    dec = "decimal(28,12)"
    old = F.col("vec_id") % 2 == 0
    s = x.groupBy("pos").agg(
        F.sum(F.when(old, F.col("v").cast(dec)))
        .cast("double")
        .alias("s_old"),
        F.count(F.when(old, 1)).alias("n_old"),
        F.sum(F.when(~old, F.col("v").cast(dec)))
        .cast("double")
        .alias("s_new"),
        F.count(F.when(~old, 1)).alias("n_new"),
    )
    mean_old = F.col("s_old") / F.col("n_old")
    mean_new = F.col("s_new") / F.col("n_new")
    return (
        s.select(
            "pos",
            F.round(mean_old, 6).alias("mean_old"),
            F.round(mean_new, 6).alias("mean_new"),
            F.round(F.abs(mean_new - mean_old), 6).alias("drift"),
        )
        .orderBy(F.desc("drift"), F.col("pos"))
        .limit(10)
    )


@q(
    "q126_source_token_mix",
    """
    WITH t AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               (SUM(len(string_split(text, ' '))))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS total FROM t)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / total, 6) AS token_share,
           ROUND((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
                  ROWS UNBOUNDED PRECEDING)) * 1.0 / total, 6) AS cum_share,
           (ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source))::INT AS rnk
    FROM t, tot
    ORDER BY rnk
    """,
)
def q126_source_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level token mix & concentration report — the coverage
    curve a pre-training mixture is planned from (which sources
    dominate token mass, how many sources cover 90% of the corpus):
    per-source document and token counts, token share, and the
    cumulative share in descending-mass order. Exactness: token
    counts are integer sums; shares divide integers as a single
    IEEE op per row (the cumulative numerator stays an exact BIGINT
    window sum — never a float accumulation). Plan: one
    partial-combining groupBy(source) over a (source, n_tokens)
    projection, a 1-row total broadcast back, and windows over the
    |sources|-row aggregate — bounded by construction, like the q50
    profiler's #columns rows."""
    docs = table(spark, "documents", sf_dir)
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    tot = t.agg(F.sum("n_tokens").alias("total"))
    w = Window.orderBy(F.desc("n_tokens"), F.col("source"))
    cum = (
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") * F.lit(1.0) / F.col("total"), 6).alias(
                "token_share"
            ),
            F.round(cum * F.lit(1.0) / F.col("total"), 6).alias("cum_share"),
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .orderBy("rnk")
    )


@q("q128_rolling_distinct_sketch")  # rows-only: HLL sketch internals
def q128_rolling_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from MERGEABLE per-day HLL
    sketches (Apache DataSketches via Spark's hll_sketch_agg /
    hll_union_agg) — the incremental-distinct pattern a warehouse
    needs at 100 TB: raw events fold ONCE into one small sketch row
    per day (partial-combining aggregate, never re-scanned), and any
    rolling/backfill window is answered by unioning the persisted
    sketches — q119 answers the same question by rescanning and
    re-distincting raw events per window, which at warehouse scale
    re-pays the fact scan for every report. Rows-only (sketch
    estimates are engine/seed-specific);
    tests/test_scale_twins.py pins the estimate within 5% of the
    exact rolling distinct at fixture scale (lgK=12 ⇒ rsd≈1.6%).
    The |days|×|days| sketch join is bounded-dim by construction
    (sketches are KB-sized, days number in the thousands at most)."""
    ev = table(spark, "events", sf_dir)
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("__sk"))
    )
    s = daily.select(F.col("day").alias("__d"))
    joined = s.join(
        F.broadcast(daily),
        (F.col("day") <= F.col("__d"))
        & (F.col("day") >= F.date_sub(F.col("__d"), 6)),
    )
    return (
        joined.groupBy(F.col("__d").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk"))
            .cast("bigint")
            .alias("approx_users_7d")
        )
        .orderBy("day")
    )


@q(
    "q131_quality_resample",
    """
    WITH scored AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               __QUALITY_SCORE__ AS s
        FROM documents),
    banded AS (
        SELECT doc_id, n_tok,
               CASE WHEN s >= 0.32 THEN 'high'
                    WHEN s >= 0.18 THEN 'mid'
                    ELSE 'low' END AS band,
               CASE WHEN s >= 0.32 THEN 100
                    WHEN s >= 0.18 THEN 60
                    ELSE 25 END AS rate,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        FROM scored)
    SELECT band,
           COUNT(*)::BIGINT AS n_docs,
           (COUNT(*) FILTER (WHERE b < rate))::BIGINT AS n_kept,
           (SUM(n_tok))::BIGINT AS tokens_total,
           (COALESCE(SUM(n_tok) FILTER (WHERE b < rate), 0))::BIGINT
               AS tokens_kept
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q131_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling audit
    (operators/sampling.py:resample_by_rate): documents are banded by
    the C4-style quality score (high keeps 100%, mid 60%, low 25%)
    and each row's keep/drop is the deterministic md5 lottery — the
    DoReMi/DSIR-style reweighting step of a training mixture, applied
    as acceptance sampling so the SAME doc keeps or drops on every
    engine, run, and partitioning. The report shows per-band doc and
    token counts before/after — what a mixture planner checks before
    committing a resample. Scale: scoring + banding + lottery are all
    scan-side expressions (no shuffle); the only exchange is the
    3-group aggregate."""
    from ..operators.sampling import hash_bucket

    docs = table(spark, "documents", sf_dir)
    scored = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "n_tokens", F.col("quality_score").alias("__s"))
    band = (
        F.when(F.col("__s") >= 0.32, F.lit("high"))
        .when(F.col("__s") >= 0.18, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    rate = (
        F.when(F.col("__s") >= 0.32, F.lit(100))
        .when(F.col("__s") >= 0.18, F.lit(60))
        .otherwise(F.lit(25))
    )
    keep = hash_bucket("doc_id", 100) < rate
    return (
        scored.select(
            band.alias("band"),
            F.col("n_tokens"),
            keep.alias("__keep"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.coalesce(
                F.sum(F.when(F.col("__keep"), F.col("n_tokens"))), F.lit(0)
            )
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .orderBy("band")
    )


@q(
    "q132_token_cooccurrence",
    """
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents),
    dfreq AS (
        SELECT t, COUNT(*) AS n FROM tok GROUP BY t
        HAVING COUNT(*) >= 5
           AND COUNT(*) <= (SELECT 0.95 * COUNT(*) FROM documents)),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t IN (SELECT t FROM dfreq)),
    pairs AS (
        SELECT a.t AS token_a, b.t AS token_b, COUNT(*) AS n_ab
        FROM tok2 a JOIN tok2 b ON a.doc_id = b.doc_id AND a.t < b.t
        GROUP BY a.t, b.t HAVING COUNT(*) >= 10),
    n AS (SELECT COUNT(*) AS total FROM documents)
    SELECT token_a, token_b, n_ab::BIGINT AS n_ab,
           da.n::BIGINT AS df_a, db.n::BIGINT AS df_b,
           ROUND((n_ab * total)::DOUBLE / (da.n * db.n)::DOUBLE, 4) AS lift
    FROM pairs
    JOIN dfreq da ON token_a = da.t
    JOIN dfreq db ON token_b = db.t, n
    ORDER BY lift DESC, token_a, token_b
    LIMIT 50
    """,
)
def q132_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence mining with lift
    (operators/textstats.py:token_cooccurrence): top-50 most
    associated vocabulary pairs — market-basket analysis over
    documents, the association signal topic discovery and
    boilerplate-phrase mining read. The df band (min_df=5,
    max_df≤95% of docs — the fixture's synthetic vocabulary is
    deliberately ubiquitous, so the band is set wide here; real
    corpora use the operator's tighter 60% default) prunes the
    vocabulary BEFORE the per-doc pair fan-out; exact BIGINT counts
    and a single double division keep the oracle hash-exact."""
    docs = table(spark, "documents", sf_dir)
    return (
        textstats.token_cooccurrence(
            docs, "text", "doc_id", min_df=5, max_df_frac=0.95, min_support=10
        )
        .orderBy(F.desc("lift"), "token_a", "token_b")
        .limit(50)
    )


@q(
    "q134_bpe_pair_merges",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    pairs AS (
        SELECT t[i] AS tok_a, t[i+1] AS tok_b
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1))
                            AS i) x
        WHERE len(t) >= 2)
    SELECT tok_a, tok_b, COUNT(*)::BIGINT AS n_pairs
    FROM pairs GROUP BY tok_a, tok_b
    ORDER BY n_pairs DESC, tok_a, tok_b LIMIT 50
    """,
)
def q134_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge candidates (operators/textstats.py:
    adjacent_pair_counts): the 50 most frequent adjacent token
    bigrams corpus-wide — iteration zero of byte-pair-encoding
    tokenizer training (Sennrich et al. 2016) and the phrase-mining
    statistic boilerplate detectors read. Scale: the bigram fan-out
    is a zip_with of two array slices — whole-stage codegen, no UDF,
    no join; the count partial-combines on a vocab²-bounded (not
    corpus-bounded) key space; top-50 with a full lexicographic
    tie-break."""
    docs = table(spark, "documents", sf_dir)
    return (
        textstats.adjacent_pair_counts(docs, "text")
        .select(
            F.col("first").alias("tok_a"),
            F.col("second").alias("tok_b"),
            "n_pairs",
        )
        .orderBy(F.desc("n_pairs"), "tok_a", "tok_b")
        .limit(50)
    )


@q(
    "q139_wav_frame_inventory",
    """
    SELECT doc_id AS media_id, i::INT AS frame_idx, (i*10)::INT AS t_ms
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0, (doc_id % 10) // 2))
                  AS i) x
    """,
)
def q139_wav_frame_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio framing, end to end: per-document WAV payloads are
    synthesized as genuine RIFF/PCM16 containers, decoded back by the
    stdlib parser, and windowed into 25 ms frames at a 10 ms hop (the
    public ASR front-end convention) by
    multimodal.wav_frame_features. The oracle predicts the exact
    frame inventory from the synthesis formula — n_samples =
    200 + (doc_id%10)·40 at 8 kHz gives ⌊(doc_id%10)·40/80⌋ + 1
    frames — so any error in container round-trip, stride math, or
    boundary handling (clip shorter than one frame, final partial
    frame) hash-mismatches; the float features (per-frame RMS/ZCR)
    are asserted against closed forms in tests/test_multimodal.py.
    Scale: synth → decode → frame fuse into one narrow Arrow stage;
    payload bytes never shuffle; fan-out is metadata rows only."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_wav(
                            100.0 + (i % 400),
                            sample_rate=8000,
                            n_samples=200 + (i % 10) * 40,
                        )
                        for i in ids
                    ],
                    "media_type": ["audio/wav"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    frames = multimodal.wav_frame_features(media, frame_ms=25, hop_ms=10)
    return frames.where(F.col("frame_error").isNull()).select(
        "media_id", "frame_idx", "t_ms"
    )


# ---------------------------------------------------------------------
# rows-only (no ANSI-SQL oracle by design): iterative fits and float
# linear algebra — validated by structural/parity tests instead
# ---------------------------------------------------------------------


@q("q138_pca_project")
def q138_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA fit + projection (operators/embedops.py): the
    embedding corpus reduced to its top-4 principal components — the
    dimensionality-reduction step of the semantic-dedup / retrieval
    preprocessing stack (SemDeDup et al., public). Rows-only by
    design: the fit is float linear algebra (moment sums + an
    eigensolve) whose last-ulp combine order no SQL oracle
    reproduces; tests/test_embedops.py asserts the real contracts —
    orthonormal components, descending explained variance, numpy
    parity of the projection, and reconstruction error beating the
    mean-only baseline. Scale: the fit is one mapInPandas moment
    pass (O(d²) per task) + a (1+d+d²)-key aggregate; the projection
    is pure codegen expressions (zip_with/aggregate dot products),
    no Python in the serve path."""
    from ..operators.embedops import fit_pca, project_pca

    emb = table(spark, "embeddings", sf_dir)
    model = fit_pca(emb, "embedding", k=4)
    proj = project_pca(emb, model, "embedding", out_col="__pc")
    return proj.select(
        "vec_id",
        *[
            F.round(F.element_at("__pc", i + 1), 4).alias(f"pc{i + 1}")
            for i in range(4)
        ],
    )


@q("q140_bpe_vocab_learn")
def q140_bpe_vocab_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer induction (operators/textstats.py:
    bpe_learn): 8 merge rounds over the corpus, each round = one
    distributed pair count + a one-row argmax + a codegen HOF rewrite
    of the persisted token arrays — the canonical driver-coordinated
    iterative algorithm (k-means' text sibling). Rows-only by
    design: an 8-round iterative rewrite has no ANSI-SQL
    re-expression; tests/test_textstats.py asserts parity against a
    pure-Python reference BPE on the same corpus (greedy
    left-to-right merge semantics included). Returns the learned
    merge table, rank-ordered."""
    docs = table(spark, "documents", sf_dir)
    merges = textstats.bpe_learn(docs, "text", n_merges=8)
    schema = "rank int, tok_a string, tok_b string, pair_count bigint"
    rows = [
        (i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return local_frame(spark, rows, schema)


@q("q141_opq_pq_reconstruction")
def q141_opq_pq_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric OPQ ahead of product quantization
    (operators/embedops.py:fit_opq_rotation + operators/pq.py): the
    corpus is rotated into its balanced-allocation PCA frame (Ge et
    al. 2013) and PQ-compressed in BOTH frames; the report is the
    per-variant mean reconstruction error — the A/B a compression
    rollout runs before committing a codebook frame. Rows-only by
    design (two iterative float fits); tests/test_embedops.py pins
    the real contracts — rotation orthonormality, per-vector energy
    preservation, balanced subspace log-variance vs the contiguous
    split, and the end-to-end error comparison. Scale: the rotation
    is one Arrow GEMM map stage; everything downstream is the
    audited q109 path; errors are comparable across frames because
    the rotation preserves L2 exactly (up to float rounding)."""
    from ..operators import pq as pqmod
    from ..operators.embedops import fit_opq_rotation, rotate_vectors

    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    model = fit_opq_rotation(emb, "embedding", m=8)
    # checkpoint the rotated corpus: the opq-variant fit/encode/decode
    # chain drives ~6 downstream jobs, and each re-ran the scan +
    # rotation GEMM through the Python boundary without this
    # (optimization round 12, guide §1.2/§4 — pay the boundary once)
    rotated = rotate_vectors(
        emb, model, "embedding", out_col="rotated"
    ).select("vec_id", "rotated").localCheckpoint()

    def mse(df, vec_col):
        rep = pqmod.pq_reconstruction_report(
            df, "vec_id", vec_col, m=8, k=16, n_iter=2
        )
        return rep.agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("recon_err"), 6).alias("mean_recon_err"),
        )

    # The two variants' fits are INDEPENDENT iterative jobs whose
    # stages are all 1-task at metadata size — wall is scheduler
    # round trips, not compute. Build them on two driver threads so
    # one variant's jobs back-fill the other's idle gaps (guide
    # §2.6 overlap independent jobs); each builder's eager actions
    # (codebook collects, checkpoints) run concurrently, results are
    # plain DataFrames. InheritableThread propagates the JVM-side
    # job-group/description thread-locals.
    from pyspark import inheritable_thread_target
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_raw = pool.submit(
            inheritable_thread_target(spark)(lambda: mse(emb, "embedding"))
        )
        f_opq = pool.submit(
            inheritable_thread_target(spark)(
                lambda: mse(rotated.select("vec_id", "rotated"), "rotated")
            )
        )
        raw = f_raw.result().select(
            F.lit("raw").alias("variant"), "n_vecs", "mean_recon_err"
        )
        opq = f_opq.result().select(
            F.lit("opq").alias("variant"), "n_vecs", "mean_recon_err"
        )
    return raw.unionByName(opq).orderBy("variant")


@q("q143_bigram_perplexity")
def q143_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity quality scoring (operators/textstats.py:
    bigram_logprob): a bigram LM with add-one smoothing is trained on
    the training sources and every held-out src6 document is scored
    with its average log-probability and perplexity — the public
    CCNet/RedPajama filter recipe (KenLM there, same statistical
    shape here), and the quality signal a mixture planner reads
    next to q38's rule-based score. Rows-only by design: the per-doc
    Σln is float-combine-order dependent; tests pin parity against a
    pure-Python reference at 1e-9. Scale: the count model is
    vocab-bounded; scoring is two left equi-joins + one per-doc
    aggregate, all codegen."""
    docs = table(spark, "documents", sf_dir)
    train = docs.where(F.col("source") != "src6")
    test = docs.where(F.col("source") == "src6")
    out = textstats.bigram_logprob(train, test, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_pairs",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("ppl", 4).alias("ppl"),
    )


# Learned BPE merge table per (process, sf_dir) — the deployed
# amortization, same pattern as the PQ index (_pq_index) and the
# near-dup index (q103/q104): the tokenizer is FIT rarely (q140
# times that build), then applied to every corpus snapshot — q156
# times the encode serve path against the cached table.
_BPE_MERGES: dict[str, list] = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    got = _BPE_MERGES.get(sf_dir)
    if got is None:
        got = textstats.bpe_learn(
            table(spark, "documents", sf_dir), "text", n_merges=8
        )
        _BPE_MERGES[sf_dir] = got
    return got


@q("q156_bpe_encode_stats")
def q156_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION (operators/textstats.py:bpe_encode)
    — the serve half of q140's induction: the corpus is re-tokenized
    under the learned 8-merge table (cached per process, the deployed
    build-rarely/encode-often split) and summarized per source:
    document count, whitespace vs BPE token totals, merge events
    (their difference — each merge fuses exactly two tokens into
    one), fused-token count, and the resulting compression ratio —
    the statistic a token-budget planner (q101) reads after a
    tokenizer release. Rows-only by design: the merge table comes
    from the iterative learner; tests/test_textstats_bpe.py pins the
    kernel token-for-token against a pure-Python reference AND a
    chain of bpe_merge_fold codegen expressions, plus the exact
    conservation invariant raw − encoded = Σ EXCESS separators
    (each merge adds exactly one ▁ and none is ever removed, so
    counting the excess over the input's own ▁ content keeps the
    cross-check exact even for corpora that already contain the
    separator, e.g. SentencePiece-formatted text).
    Scale: the merge table is vocab-bounded closure state; the
    encode is one Arrow map stage (no shuffle, no join — unlike an
    n_merges-deep expression chain, untenable at 32k-merge
    production vocabularies); the per-source aggregate
    partial-combines to |sources| rows."""
    docs = table(spark, "documents", sf_dir)
    merges = _bpe_merges(spark, sf_dir)
    enc = textstats.bpe_encode(docs, merges, "text")
    sep_count = F.aggregate(
        F.col("bpe_tokens"),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.length(t)
        - F.length(F.regexp_replace(t, "▁", "")),
    ) - (
        # excess over the input's own separators: merges only ever
        # ADD one ▁ each, so this difference counts merge events
        # exactly even when raw text contains ▁
        F.length("text") - F.length(F.regexp_replace("text", "▁", ""))
    ).cast("bigint")
    per_doc = enc.select(
        "source",
        F.size(textstats.tokens("text")).cast("bigint").alias("__raw"),
        F.size("bpe_tokens").cast("bigint").alias("__enc"),
        sep_count.alias("__seps"),
        F.size(
            F.filter(F.col("bpe_tokens"), lambda t: t.contains("▁"))
        )
        .cast("bigint")
        .alias("__fused"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__raw").alias("raw_tokens"),
            F.sum("__enc").alias("bpe_tokens"),
            F.sum("__seps").alias("merge_events"),
            F.sum("__fused").alias("fused_tokens"),
            F.round(
                F.sum("__enc").cast("double") / F.sum("__raw").cast("double"),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )


@q(
    "q153_inverted_postings",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    p AS (
        SELECT term, doc_id, COUNT(*)::BIGINT AS tf
        FROM tok WHERE term <> '' GROUP BY term, doc_id),
    d AS (SELECT term, COUNT(*)::BIGINT AS df FROM p GROUP BY term)
    SELECT term, doc_id, tf, df
    FROM p JOIN d USING (term)
    ORDER BY df DESC, term, doc_id
    LIMIT 200
    """,
)
def q153_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/retrieval.py:postings): the
    (term, doc_id, tf) posting rows with each term's document
    frequency attached — the standing index behind q154's BM25 serve
    path, surfaced here from its hottest (highest-df) end. The
    reference serves lookups by re-scanning raw JSON
    (api_requests.py:21-60); an index build is the scale answer.
    Exactness: every column is an integer count. Scale: one explode
    + (term, doc_id) aggregate — the tf groupBy partial-combines
    map-side; the df join co-partitions on term with the aggregate
    that produced it (one exchange, reused); a deployment
    materializes this bucketed by term so query-time scans prune to
    the query's terms."""
    docs = table(spark, "documents", sf_dir)
    p = retrieval.postings(docs)
    d = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        p.join(d, "term")
        .select("term", "doc_id", "tf", "df")
        .orderBy(F.desc("df"), "term", "doc_id")
        .limit(200)
    )


@q("q154_bm25_topk")  # rows-only: ln() idf + float score sum (q85 precedent)
def q154_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.py:bm25_topk):
    top-25 documents for a 4-term bag-of-words query under Okapi
    BM25 (k1=1.2, b=0.75, Lucene's +1-smoothed idf) — the lexical
    ranking half of every retrieval/curation stack (the embedding
    half is q36/q110). Rows-only by design: idf is ln() and the
    per-doc sum float-combines (q85 precedent);
    tests/test_retrieval.py pins scores against an independent
    pandas/math BM25 at 1e-6 on the 6-dp-rounded scores emitted
    here and asserts the exact top-k id sequence.
    Scale: the query-term filter sits BELOW the tf aggregate, so
    exactly four posting lists shuffle; corpus stats are a 1-row
    broadcast; ranking output is k rows."""
    docs = table(spark, "documents", sf_dir)
    out = retrieval.bm25_topk(
        docs, ["spark", "join", "window", "vector"], k=25
    )
    return out.select(
        "doc_id", F.round("score", 6).alias("score"), "n_terms_hit"
    )


@q(
    "q162_score_calibration",
    """
    WITH q AS (
        SELECT doc_id, source,
               __QUALITY_SCORE__ AS quality_score
        FROM documents)
    SELECT doc_id, source, quality_score,
           percent_rank() OVER w AS cal_rank,
           cume_dist() OVER w AS cal_cume
    FROM q
    WINDOW w AS (PARTITION BY source ORDER BY quality_score)
    """,
)
def q162_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration: each document's q38
    rule-based score mapped to its percentile WITHIN its source
    (percent_rank + cume_dist) — the normalization step before a
    global quality threshold, so a source whose raw scores run low
    (different boilerplate, different length mix) isn't wholesale
    rejected by one corpus-wide cutoff; mixture planners (q57/q131)
    consume the calibrated rank, not the raw score. Exercises the
    rank-to-fraction window family (percent_rank = (rank−1)/(N−1),
    cume_dist = n≤/N) nothing else on the surface touches.
    Exactness: ranks are integers over bit-identical 4-dp scores
    (q38 hash-matches), each fraction is ONE IEEE division of exact
    integers, and ties share a rank by definition — so ordering
    inside a tie cannot change any output and raw doubles
    hash-match. Scale: one window partitioned by source; at 100 TB
    a source's docs must fit one task's sort — for mega-sources,
    swap to the q72 sketch-cutpoint pattern (approx quantiles +
    map-side bucketing), the documented deciles escape hatch."""
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    scored = textstats.quality_score(docs, "text")
    w = Window.partitionBy("source").orderBy("quality_score")
    return scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.percent_rank().over(w).alias("cal_rank"),
        F.cume_dist().over(w).alias("cal_cume"),
    )


@q(
    "q163_ngram_novelty",
    f"""
    WITH {_shingles_cte(3)},
    d AS (SELECT shingle, COUNT(*)::BIGINT AS df
          FROM sh GROUP BY shingle)
    SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           (SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END))::BIGINT AS n_novel,
           (SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END))::DOUBLE
               / (COUNT(*))::DOUBLE AS novelty
    FROM sh JOIN d USING (shingle)
    GROUP BY doc_id
    """,
)
def q163_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word-trigram shingles that appear NOWHERE else in the
    corpus — the uniqueness signal curation recipes weigh against
    quality (boilerplate-heavy docs score near 0, genuinely novel
    content near 1), and the per-doc complement of the corpus-level
    dup telemetry (q80). Reuses the q33/q34 shingle generator
    (operators/dedup.py:shingle_set, n=3; sub-n docs contribute
    their full text as one shingle, so every document scores).
    Exactness: both counts are BIGINTs off the same distinct shingle
    set; novelty is ONE IEEE division — hash-exact. Scale: the df
    table is one partial-combining aggregate on the shingle key (the
    q70 shape); the join back carries (shingle, df=1?) bits to the
    doc-keyed rollup; shingle text never leaves the exchange that
    the inverted-index family already pays. The df aggregate and the
    join back key on xxhash64(shingle) — the q34 discipline: distinct
    strings map to distinct hashes (collision ~2⁻⁶⁴ per pair), so the
    BIGINT counts are unchanged while both exchanges move 8-byte
    keys, not n-gram strings (optimization round 12, guide §2.3)."""
    docs = table(spark, "documents", sf_dir)
    sh = dedup.shingle_set(docs, "text", "doc_id", n=3).select(
        "doc_id", F.xxhash64("shingle").alias("__h")
    )
    dfreq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    novel = F.when(F.col("__df") == 1, 1).otherwise(0)
    return (
        sh.join(dfreq, "__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            (
                F.sum(novel).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("novelty"),
        )
    )


@q(
    "q166_pps_token_sample",
    """
    WITH w AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents),
    keyed AS (
        SELECT doc_id, source, n_tokens,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0) / n_tokens AS sample_key
        FROM w WHERE n_tokens > 0)
    SELECT doc_id, source, n_tokens, sample_key
    FROM keyed ORDER BY sample_key, doc_id LIMIT 200
    """,
)
def q166_pps_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-proportional document sample
    (operators/sampling.py:pps_sample): exactly 200 documents drawn
    with probability proportional to their token count — how an eval
    or inspection set is drawn so long documents (most of the
    training tokens) are represented by token mass, not by document
    count. Sequential Poisson keys (md5-uniform / weight) make the
    draw deterministic and engine-portable: the u and the key are
    two IEEE divisions of exact integers, so the oracle hash-matches
    including the key column. Scale: scan-side keys + TakeOrdered
    top-k — per-partition k-smallest then a 200-row merge; no global
    sort, no shuffle of the corpus."""
    from ..operators.sampling import pps_sample

    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    return pps_sample(docs, "doc_id", "n_tokens", k=200).select(
        "doc_id", "source", "n_tokens", "sample_key"
    )


@q(
    "q172_dsir_importance",
    f"""
    WITH {_gram_pos_cte(2)},
    docf AS (
        SELECT gp.doc_id, d.lang,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % 256 AS f,
               COUNT(*)::BIGINT AS c
        FROM gp JOIN documents d USING (doc_id)
        GROUP BY 1, 2, 3),
    per_f AS (
        SELECT f, SUM(c)::BIGINT AS rc,
               COALESCE(SUM(c) FILTER (WHERE lang = 'en'), 0)::BIGINT AS tc
        FROM docf GROUP BY f),
    tot AS (SELECT SUM(rc)::BIGINT AS r_tot, SUM(tc)::BIGINT AS t_tot
            FROM per_f),
    lam AS (
        SELECT f,
               ROUND((ln((tc + 1)::DOUBLE / (t_tot + 256)::DOUBLE)
                      - ln((rc + 1)::DOUBLE / (r_tot + 256)::DOUBLE))
                     * 100000)::BIGINT AS lam5
        FROM per_f CROSS JOIN tot),
    w AS (
        SELECT doc_id, SUM(c)::BIGINT AS n_grams,
               SUM(c * lam5)::BIGINT AS wsum5
        FROM docf JOIN lam USING (f) GROUP BY doc_id)
    SELECT doc_id, n_grams,
           (CASE WHEN wsum5 >= 0
                 THEN (20 * wsum5 + n_grams) // (2 * n_grams)
                 ELSE -((20 * -wsum5 + n_grams) // (2 * n_grams))
            END)::DOUBLE / 1000000.0 AS dsir_score
    FROM w ORDER BY dsir_score DESC, doc_id LIMIT 200
    """,
)
def q172_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): rank raw
    documents by how much their hashed-bigram distribution resembles
    a target domain (here: the corpus's English slice) relative to
    the raw pool — the cheap lexical stand-in for 'select data that
    looks like the eval distribution'. Per hash bucket f (md5-bucket
    of each bigram occurrence into 256 features — the portable
    sampling.hash_bucket lottery), the log-likelihood ratio
    lambda_f = ln p_target(f) - ln p_raw(f) with add-1 smoothing; a
    document's score is its occurrence-weighted mean lambda.
    Exactness: ln() agrees bit-for-bit across engines for ~97% of
    inputs (1-ulp wobble otherwise — measured), so lambda is pinned
    to integer 1e-5 units (round-scale-cast, the q167 discipline; at
    1e-5 the half-boundary a 1-ulp wobble could flip sits ~2e-10
    away in relative terms — review pushed this down from 1e-7,
    which left only ~3e-8) and everything after is BIGINT-exact:
    per-doc sums are c_f * lam5 products, the finish is one IEEE
    division, rounded once. Shape (review-flagged; was one
    re-tokenized branch per statistic): the corpus fans out to
    bigrams into the (doc_id, lang, f) count table, consumed by
    exactly TWO aggregates — the 256-row per-feature table (raw and
    target counts in one pass; corpus totals then come from THAT
    table, not another corpus pass) and the per-doc score rollup.
    The kernels live in operators/importance.py, SHARED with the
    streaming maintenance path (feature partials + serve scoring)
    so batch and stream cannot de-synchronize — the
    daily_count_anomaly discipline. Scale: the only corpus-sized
    shuffle carries (doc_id, f) ints, never gram text (the bucket
    hash is map-side); per_f/tot/lam are 256-row frames that
    broadcast back; top-k is TakeOrdered, no global sort. At
    100 TB, materialize docf once (a build artifact, the
    PQ-codebook discipline) so the two consumers read it instead of
    re-exploding, and raise the bucket count (DSIR uses 10k) — lam
    stays broadcast-sized at any realistic width."""
    from ..operators import importance

    docs = table(spark, "documents", sf_dir)
    docf = importance.bigram_feature_counts(docs)
    lam = importance.lambda_table(importance.per_feature_counts(docf))
    return (
        importance.dsir_scores(docf, lam)
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(200)
    )


@q(
    "q173_dup_span_census",
    f"""
    WITH {_gram_pos_cte(8)},
    occ AS (SELECT gram, COUNT(*)::BIGINT AS occ FROM gp GROUP BY gram),
    dup AS (
        SELECT gp.doc_id, gp.pos, least(gp.pos + 7, gp.n_tokens) AS e
        FROM gp JOIN occ USING (gram) WHERE occ.occ >= 2),
    isl AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    THEN 1 ELSE 0 END AS new_isl
        FROM dup),
    grp AS (
        SELECT doc_id, pos, e,
               SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl_id
        FROM isl),
    cov AS (
        SELECT doc_id, isl_id,
               MAX(e) - MIN(pos) + 1 AS cov_len, COUNT(*) AS n_spans
        FROM grp GROUP BY doc_id, isl_id),
    per_doc AS (
        SELECT doc_id, SUM(cov_len)::BIGINT AS covered,
               SUM(n_spans)::BIGINT AS n_dup_grams
        FROM cov GROUP BY doc_id),
    dl AS (SELECT doc_id,
                  len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents)
    SELECT dl.doc_id, dl.n_tokens,
           COALESCE(n_dup_grams, 0)::BIGINT AS n_dup_grams,
           COALESCE(covered, 0)::BIGINT AS covered_tokens,
           ROUND(COALESCE(covered, 0)::DOUBLE / dl.n_tokens, 6)
               AS dup_fraction
    FROM dl LEFT JOIN per_doc USING (doc_id)
    ORDER BY doc_id
    """,
)
def q173_dup_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring duplication census (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better'
    signal, arXiv:2107.06499, at word-8-gram granularity): for each
    document, the fraction of its tokens lying under at least one
    8-gram that occurs >= 2 times ANYWHERE in the corpus — the
    span-level complement of doc-level near-dup (a doc can be 40%
    boilerplate yet no near-dup of anything). Pipeline: occurrence-
    level grams with positions (dedup.ngram_positions), corpus
    occurrence counts on the gram key, duplicated spans [pos,
    pos+7] merged per doc by the classic gaps-and-islands window
    (new island when pos exceeds the running max end), island
    lengths summed. Exactness: pure integer arithmetic end-to-end;
    the fraction is one IEEE division, rounded once. Scale: the
    gram-key exchange is the inverted-index family's (hash grams to
    64-bit keys at 100 TB, the q34 discipline); the island window
    partitions per doc over dup spans only — bounded by tokens per
    doc, never corpus-global; docs with zero dup spans rejoin via
    the doc-keyed left join, costing a dim-sized exchange."""
    docs = table(spark, "documents", sf_dir)
    # occurrence counts and the join back key on xxhash64(gram) — the
    # q34 discipline (distinct grams ↔ distinct hashes, ~2⁻⁶⁴): the
    # exchange moves 8-byte keys instead of 8-word strings
    # (optimization round 12, guide §2.3)
    gp = dedup.ngram_positions(docs, "text", "doc_id", n=8).select(
        "doc_id", "pos", "n_tokens", F.xxhash64("gram").alias("__g")
    )
    occ = gp.groupBy("__g").agg(F.count(F.lit(1)).alias("occ"))
    dup = (
        gp.join(occ, "__g")
        .where(F.col("occ") >= 2)
        .select(
            "doc_id",
            "pos",
            F.least(F.col("pos") + 7, F.col("n_tokens")).alias("e"),
        )
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.select(
        "doc_id",
        "pos",
        "e",
        F.when(
            F.col("pos") > F.coalesce(F.max("e").over(wprev), F.lit(0)), 1
        )
        .otherwise(0)
        .alias("new_isl"),
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = isl.select(
        "doc_id", "pos", "e", F.sum("new_isl").over(wcum).alias("isl_id")
    )
    cov = grp.groupBy("doc_id", "isl_id").agg(
        (F.max("e") - F.min("pos") + 1).alias("cov_len"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.sum("cov_len").alias("covered"),
        F.sum("n_spans").alias("n_dup_grams"),
    )
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    return (
        dl.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.coalesce("covered", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.round(
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


@q(
    "q174_chunk_plan",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id,
           ((s - 1) / 48)::INT AS chunk_idx,
           s::BIGINT AS start_tok,
           len(words[s:s+63])::BIGINT AS n_chunk_tokens,
           md5(array_to_string(words[s:s+63], ' ')) AS chunk_md5
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, len(words), 48)) AS s) t
    WHERE s = 1 OR s + 15 < len(words)
    ORDER BY doc_id, chunk_idx
    """,
)
def q174_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking plan (RAG / context-window prep):
    split every document into 64-token chunks at stride 48 (25%
    overlap so no boundary-straddling passage is lost), emitting
    (chunk_idx, start_tok, n_chunk_tokens, md5) — the manifest a
    chunk-level embed/dedup/index stage consumes (q87 dedups chunks;
    this is the operator that MAKES them). Start positions 1, 49,
    97, ... <= doc length, and a start is emitted only if the
    PREVIOUS chunk stopped short of the document end (s = 1 OR
    s + 15 < L) — otherwise the tail chunk would be a strict
    sub-span of its predecessor, duplicating downstream embed/index
    work (review-flagged; the kept tail chunk may still run short,
    the standard contract). Exactness: pure integer generate_series
    + slicing + md5, identical in both engines. Scale: one map-side
    explode per document — sequence/slice stay in whole-stage
    codegen, nothing shuffles at all (the ORDER BY is presentation;
    a real sink would write hash-partitioned by doc)."""
    docs = table(spark, "documents", sf_dir)
    tokens = F.col("__toks")
    starts = F.sequence(F.lit(1), F.size(tokens), F.lit(48))
    return (
        docs.select("doc_id", F.split("text", " ").alias("__toks"))
        .select("doc_id", tokens.alias("__toks"), F.explode(starts).alias("s"))
        .where(
            (F.col("s") == 1) | (F.col("s") + 15 < F.size(tokens))
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / 48).cast("int").alias("chunk_idx"),
            F.col("s").cast("bigint").alias("start_tok"),
            F.size(F.slice(tokens, F.col("s"), 64))
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.slice(tokens, F.col("s"), 64))).alias(
                "chunk_md5"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@q(
    "q178_zipf_slope",
    """
    WITH freq AS (
        SELECT word, COUNT(*)::BIGINT AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY word),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS r
        FROM freq
        ORDER BY c DESC, word LIMIT 1000),
    pinned AS (
        SELECT ROUND(ln(r::DOUBLE) * 100000)::BIGINT AS x,
               ROUND(ln(c::DOUBLE) * 100000)::BIGINT AS y
        FROM ranked),
    m AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
               SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx,
               SUM(y * y)::BIGINT AS syy
        FROM pinned)
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS zipf_slope,
           ROUND(((n * sxy - sx * sy)::DOUBLE
                  * (n * sxy - sx * sy)::DOUBLE)
                 / ((n * sxx - sx * sx)::DOUBLE
                    * (n * syy - sy * sy)::DOUBLE), 6) AS r_squared
    FROM m
    """,
)
def q178_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS
    slope of log-frequency against log-rank for the top 1000 terms
    (natural text sits near -1; a synthetic or boilerplate-heavy
    corpus drifts off — a one-number corpus-health check curation
    dashboards track across snapshots, next to q38 quality and q80
    dup rates). Exactness: ln(rank)/ln(freq) are pinned to integer
    1e-5 units (the q172 discipline — ln wobbles 1 ulp across
    engines ~3% of the time), so all five OLS moments are BIGINT
    and slope/r^2 are fixed IEEE chains on exact integers, rounded
    once. Magnitudes: |pinned ln| <= ~1.6e6, squares ~2.6e12, times
    1000 terms ~2.6e15, times n — well inside BIGINT. Scale: the
    word-frequency aggregate partial-combines (exchange carries
    distinct words); top-1000 is TakeOrdered (per-partition heads,
    no global sort); the moment aggregate is over 1000 rows."""
    docs = table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = (
        freq.orderBy(F.desc("c"), "word")
        .limit(1000)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "word"))
            .alias("r"),
        )
    )
    pinned = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 100000)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 100000)
        .cast("bigint")
        .alias("y"),
    )
    m = pinned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    varx = (n * F.col("sxx") - sx * sx).cast("double")
    vary = (n * F.col("syy") - sy * sy).cast("double")
    return m.select(
        n.alias("n_terms"),
        F.round(cov / varx, 6).alias("zipf_slope"),
        F.round((cov * cov) / (varx * vary), 6).alias("r_squared"),
    )


def _textrank_oracle_sql(n_iter: int = 10, k: int = 50) -> str:
    """The q179 oracle: TextRank's ten integer power iterations
    unrolled as chained CTEs (pr0..pr10) — BIGINT floor-division
    arithmetic makes every iteration hash-exact, which is what
    lets an ITERATIVE algorithm carry a SQL oracle at all."""
    from ..operators.graph import (
        TEXTRANK_BASE,
        TEXTRANK_DAMP_NUM,
        TEXTRANK_PROB_SCALE,
        TEXTRANK_SCALE,
    )

    iters = "".join(
        f""",
    pr{i + 1} AS (
        SELECT e.dst AS token,
               ({TEXTRANK_BASE} + ({TEXTRANK_DAMP_NUM}
                * SUM((pr{i}.r * e.p) // {TEXTRANK_PROB_SCALE})) // 100
               )::BIGINT AS r
        FROM pr{i} JOIN e ON e.src = pr{i}.token GROUP BY e.dst)"""
        for i in range(n_iter)
    )
    return f"""
    WITH bi AS (
        SELECT words[i] AS a, words[i+1] AS b
        FROM (SELECT string_split(text, ' ') AS words FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) t
        WHERE len(words) >= 2),
    pairs AS (SELECT a, b, COUNT(*)::BIGINT AS c FROM bi GROUP BY 1, 2),
    edges AS (
        SELECT src, dst, SUM(c)::BIGINT AS w FROM (
            SELECT a AS src, b AS dst, c FROM pairs
            UNION ALL SELECT b AS src, a AS dst, c FROM pairs) u
        WHERE src <> dst GROUP BY 1, 2),
    wout AS (SELECT src, SUM(w)::BIGINT AS wout FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst,
                 ((edges.w * {TEXTRANK_PROB_SCALE}) // wout.wout)::BIGINT AS p
          FROM edges JOIN wout USING (src)),
    pr0 AS (SELECT DISTINCT src AS token,
                   {TEXTRANK_SCALE}::BIGINT AS r FROM edges){iters}
    SELECT token, r AS rank_score FROM pr{n_iter}
    ORDER BY rank_score DESC, token LIMIT {k}
    """


@q("q179_textrank_keywords", None)
def q179_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): the 50
    highest-centrality tokens of the corpus's adjacency
    co-occurrence graph under ten weighted-PageRank power
    iterations — the classic unsupervised keyword/keyphrase seed
    (and the graph sibling of q75's TF-IDF term ranking: centrality
    vs distinctiveness). Edges are the q134/q143 adjacent-pair
    counts (ONE pair-statistic definition corpus-wide), symmetrized
    with self-loops dropped; damping 0.85 is the exact 85/100
    integer split (operators/graph.py:textrank_scores). Exactness:
    ranks are BIGINT in 1e-6 mass units with floor division
    everywhere (Spark ``div`` == DuckDB ``//``), so ten ITERATIONS
    of a numeric fixed-point algorithm still hash-match a SQL
    oracle (unrolled pr0..pr10 CTEs) — float PageRank could only
    ever be rows-only. Scale: the edge table is vocab-bounded, so
    at or under the 2M-edge bound the normalized edge list collects
    once and the integer recurrence runs driver-local (the
    connected-components small-graph posture — ten sequential Spark
    stages over a tiny table are pure scheduling overhead); past
    the bound each iteration is one edges-ranks shuffle join + one
    partial-combining dst-sum (generations persist so the single
    action computes each once). Scores are hash-identical on either
    path; the final collect is k=50 rows by contract."""
    from ..operators.graph import textrank_topk

    docs = table(spark, "documents", sf_dir)
    ap = textstats.adjacent_pair_counts(docs, "text").select(
        F.col("first").alias("src"),
        F.col("second").alias("dst"),
        F.col("n_pairs").alias("w"),
    )
    rows = [(r["token"], int(r["r"])) for r in textrank_topk(ap, k=50)]
    return local_frame(spark, rows, "token string, rank_score bigint")


ORACLES["q179_textrank_keywords"] = _textrank_oracle_sql()


@q(
    "q180_pmi_collocations",
    """
    WITH toks AS (
        SELECT string_split(text, ' ') AS words FROM documents),
    uni AS (
        SELECT word, COUNT(*)::BIGINT AS c
        FROM (SELECT unnest(words) AS word FROM toks) GROUP BY word),
    bi AS (
        SELECT words[i] AS tok_a, words[i+1] AS tok_b, COUNT(*)::BIGINT AS c_ab
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) t
        WHERE len(words) >= 2 AND words[i] <> words[i+1]
        GROUP BY 1, 2),
    tot AS (SELECT (SELECT SUM(c) FROM uni)::BIGINT AS n,
                   (SELECT SUM(c_ab) FROM bi)::BIGINT AS m),
    pmi AS (
        SELECT tok_a, tok_b, c_ab,
               ROUND(ln((c_ab::DOUBLE * n::DOUBLE * n::DOUBLE)
                        / (m::DOUBLE * ua.c::DOUBLE * ub.c::DOUBLE))
                     * 100000)::BIGINT AS pmi5
        FROM bi
        JOIN uni ua ON ua.word = tok_a
        JOIN uni ub ON ub.word = tok_b
        CROSS JOIN tot
        WHERE c_ab >= 5)
    SELECT tok_a, tok_b, c_ab, pmi5
    FROM pmi ORDER BY pmi5 DESC, tok_a, tok_b LIMIT 50
    """,
)
def q180_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information
    (Church & Hanks 1990): the 50 adjacent word pairs (count >= 5,
    self-pairs dropped) whose co-occurrence most exceeds unigram
    independence — the classic multi-word-expression signal a
    tokenizer- or phrase-vocabulary stage mines before committing
    merges (the statistical complement of q134's raw pair counts
    and q140's frequency-greedy BPE). PMI = ln(p(ab)/(p(a)p(b)))
    with p from corpus totals; the ratio is assembled in ONE
    identically-ordered double expression and the single ln is
    pinned to integer 1e-5 units (the q172 discipline), so the
    output is hash-exact. Scale: unigram and bigram tables are
    vocab-bounded partial-combining aggregates; the two uni joins
    broadcast; totals are a 1-row broadcast; top-k is TakeOrdered.
    The fact table scans twice (unigrams, bigrams) — fuse via the
    q172 materialize-docf pattern if the corpus re-read ever
    dominates."""
    docs = table(spark, "documents", sf_dir)
    toks = docs.select(F.split("text", " ").alias("words"))
    uni = (
        toks.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        textstats.adjacent_pair_counts(docs, "text")
        .where(F.col("first") != F.col("second"))
        .select(
            F.col("first").alias("tok_a"),
            F.col("second").alias("tok_b"),
            F.col("n_pairs").alias("c_ab"),
        )
    )
    tot = uni.agg(F.sum("c").alias("n")).crossJoin(
        bi.agg(F.sum("c_ab").alias("m"))
    )
    ua = uni.select(F.col("word").alias("tok_a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("word").alias("tok_b"), F.col("c").alias("cb"))
    ratio = (
        F.col("c_ab").cast("double")
        * F.col("n").cast("double")
        * F.col("n").cast("double")
    ) / (
        F.col("m").cast("double")
        * F.col("ca").cast("double")
        * F.col("cb").cast("double")
    )
    return (
        bi.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.round(F.log(ratio) * 100000).cast("bigint").alias("pmi5"),
        )
        .orderBy(F.desc("pmi5"), "tok_a", "tok_b")
        .limit(50)
    )


@q(
    "q181_lexical_entropy",
    """
    WITH wc AS (
        SELECT doc_id, word, COUNT(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2),
    agg AS (
        SELECT doc_id,
               SUM(c)::BIGINT AS n_tokens,
               COUNT(*)::BIGINT AS distinct_tokens,
               SUM(c * ROUND(ln(c::DOUBLE) * 100000)::BIGINT)::BIGINT
                   AS sum_clnc5
        FROM wc GROUP BY doc_id)
    SELECT doc_id, n_tokens, distinct_tokens,
           ROUND(distinct_tokens::DOUBLE / n_tokens, 6) AS ttr,
           ROUND((n_tokens * ROUND(ln(n_tokens::DOUBLE) * 100000)::BIGINT
                  - sum_clnc5)::DOUBLE / (n_tokens::DOUBLE * 100000.0), 6)
               AS entropy_nats
    FROM agg ORDER BY doc_id
    """,
)
def q181_lexical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and Shannon
    entropy (nats) of the document's unigram distribution — the
    repetitiveness/diversity signals quality filters weigh next to
    q61's repetition ratio (entropy near 0 = one token spammed; TTR
    near 1 = no reuse). Entropy uses H = (n ln n - sum c_w ln c_w)/n
    with every ln pinned to integer 1e-5 units, so the numerator is
    pure BIGINT (per-doc counts bound c_w ln5 terms ~1e9) and both
    outputs are one IEEE division each, rounded once — hash-exact.
    Scale: one explode + one (doc, word) partial-combining
    aggregate riding the ngram-family's doc-keyed clustering; the
    per-doc rollup is the same exchange; nothing corpus-global."""
    docs = table(spark, "documents", sf_dir)
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ln5 = lambda c: F.round(F.log(c.cast("double")) * 100000).cast("bigint")
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.col("c") * ln5(F.col("c"))).alias("sum_clnc5"),
    )
    ent = (
        (
            F.col("n_tokens") * ln5(F.col("n_tokens"))
            - F.col("sum_clnc5")
        ).cast("double")
        / (F.col("n_tokens").cast("double") * F.lit(100000.0))
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.round(
            F.col("distinct_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("ttr"),
        F.round(ent, 6).alias("entropy_nats"),
    ).orderBy("doc_id")


@q(
    "q183_semantic_decontamination",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    bench AS (SELECT vec_id AS bench_id, ve AS bv FROM v
              WHERE vec_id % 97 = 0 AND vec_id < 5000),
    corpus AS (SELECT vec_id AS corpus_id, ve AS cv FROM v
               WHERE NOT (vec_id % 97 = 0 AND vec_id < 5000)),
    hits AS (
        SELECT corpus_id, bench_id,
               list_cosine_similarity(cv, bv) AS sim
        FROM corpus CROSS JOIN bench
        WHERE list_cosine_similarity(cv, bv) >= 0.4),
    best AS (
        SELECT corpus_id, bench_id, sim,
               ROW_NUMBER() OVER (PARTITION BY corpus_id
                                  ORDER BY sim DESC, bench_id) AS rn
        FROM hits)
    SELECT corpus_id, bench_id, ROUND(sim, 6) AS score
    FROM best WHERE rn = 1
    ORDER BY corpus_id
    """,
)
def q183_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-level benchmark decontamination: corpus vectors
    whose cosine similarity to ANY benchmark-set vector reaches 0.4
    — the SEMANTIC complement of q108's verbatim probe scan and
    q88's n-gram overlap (paraphrased eval leakage carries no
    shared 13-gram; it does carry a close embedding — the
    SemDeDup-adjacent decontamination step modern pipelines run
    last). Benchmark set: vec_id % 97 == 0 AND vec_id < 5000 — a
    FIXED eval suite by contract (the q194/q198 bound: an unbounded
    %-convention grows WITH the corpus and turns the broadcast loop
    quadratic — the round-8 50× sweep measured exactly that,
    alpha 1.148, before this bound). Each flagged corpus vector
    reports its best-matching benchmark item (max sim, bench-id
    tie-break) — the evidence row a removal audit wants.
    Exactness: the zip_with/aggregate cosine fold is bit-identical
    to DuckDB's list_cosine_similarity (the q36/q37 contract);
    ROW_NUMBER ties break on bench_id. Scale: the benchmark side is
    fixed-size and BROADCASTS (the q108 posture — eval suites are
    thousands of items); the corpus side streams map-side through
    the broadcast loop with no shuffle until the per-corpus-vector
    argmax, whose input is hits only. At 1e9+ corpus vectors, route
    corpus→cell via IVF (q42/q115) and probe only the benchmark
    vectors' cells."""
    emb = table(spark, "embeddings", sf_dir)
    v = emb.select("vec_id", similarity.as_double_vec("embedding").alias("ve"))
    is_bench = (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 5000)
    bench = v.where(is_bench).select(
        F.col("vec_id").alias("bench_id"), F.col("ve").alias("bv")
    )
    corpus = v.where(~is_bench).select(
        F.col("vec_id").alias("corpus_id"), F.col("ve").alias("cv")
    )
    sim = similarity.cosine(F.col("cv"), F.col("bv"))
    hits = (
        corpus.join(F.broadcast(bench), F.lit(True), "inner")
        .select("corpus_id", "bench_id", sim.alias("sim"))
        .where(F.col("sim") >= 0.4)
    )
    w = Window.partitionBy("corpus_id").orderBy(
        F.desc("sim"), "bench_id"
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "corpus_id", "bench_id", F.round("sim", 6).alias("score")
        )
        .orderBy("corpus_id")
    )


@q(
    "q184_bigram_surprisal",
    """
    WITH train AS (SELECT text FROM documents WHERE source <> 'src6'),
    uni AS (SELECT word, COUNT(*)::BIGINT AS cu
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM train)
            GROUP BY word),
    vsz AS (SELECT COUNT(*)::BIGINT AS v FROM uni),
    bi AS (SELECT words[i] AS a, words[i+1] AS b, COUNT(*)::BIGINT AS cb
           FROM (SELECT string_split(text, ' ') AS words FROM train),
                LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) t
           WHERE len(words) >= 2 GROUP BY 1, 2),
    sp AS (SELECT doc_id, words[i] AS a, words[i+1] AS b
           FROM (SELECT doc_id, string_split(text, ' ') AS words
                 FROM documents WHERE source = 'src6'),
                LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) t
           WHERE len(words) >= 2),
    scored AS (
        SELECT doc_id,
               ROUND(-ln((COALESCE(cb, 0) + 1)::DOUBLE
                         / (COALESCE(cu, 0) + v)::DOUBLE)
                     * 100000)::BIGINT AS s5
        FROM sp
        LEFT JOIN uni ON uni.word = sp.a
        LEFT JOIN bi ON bi.a = sp.a AND bi.b = sp.b
        CROSS JOIN vsz),
    agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_pairs,
                   SUM(s5)::BIGINT AS sum5
            FROM scored GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(n_pairs, 0)::BIGINT AS n_pairs,
           ROUND(sum5::DOUBLE / (n_pairs::DOUBLE * 100000.0), 6)
               AS mean_surprisal
    FROM (SELECT doc_id FROM documents WHERE source = 'src6') d
    LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """,
)
def q184_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity quality filter, made cross-engine checkable
    (operators/textstats.py:bigram_surprisal_pinned): the same
    add-one bigram LM as q143 (same _bigram_model counts, train =
    everything but src6, score = src6) but scoring per-bigram
    surprisal in pinned integer 1e-5 nat units, so the per-doc sum
    is BIGINT and the mean is one rounded IEEE division —
    hash-exact where q143's float Σln is rows-only by contract.
    Together they split the contract: q143 carries the
    human-facing ppl = exp(-avg), this carries the machine-checked
    ranking signal (monotone in ppl, so a filter thresholding
    either selects the same documents). Scale: identical to q143 —
    vocab-bounded model, two left equi-joins, one per-doc
    aggregate."""
    docs = table(spark, "documents", sf_dir)
    train = docs.where(F.col("source") != "src6")
    test = docs.where(F.col("source") == "src6")
    return textstats.bigram_surprisal_pinned(
        train, test, "text", "doc_id"
    ).orderBy("doc_id")


@q(
    "q187_containment_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    dir AS (
        SELECT doc_a AS src, doc_b AS sup, c * 1.0 / sa.n AS containment
        FROM common JOIN sizes sa ON sa.doc_id = doc_a
        UNION ALL
        SELECT doc_b, doc_a, c * 1.0 / sb.n
        FROM common JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT src, sup, ROUND(containment, 4) AS containment
    FROM dir WHERE containment >= 0.8
    ORDER BY src, sup
    """,
)
def q187_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment near-dup pairs
    (operators/dedup.py:containment_pairs): C(src→sup) =
    |S(src)∩S(sup)|/|S(src)| ≥ 0.8 over 5-gram shingle sets — the
    asymmetric complement of q33's Jaccard that catches
    quote-inside-a-longer-page and wrapper/boilerplate supersets
    (|A∩B|/|A| ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0). Exactness: the
    score is one IEEE division of two integers (intersection count
    / set size), rounded once; shingle sets fold as xxhash64 values
    (distinct strings → distinct hashes at ~2⁻⁶⁴), so counts are
    preserved. Candidate recall is provable at the threshold: a
    0.8-contained src shares ≥1 shingle by pigeonhole, and the
    df-cap only skips shingles in >1000 docs (which at fixture
    scale is none; at corpus scale those are boilerplate the
    verification join still counts). Scale: shares the q33 path —
    one shingle explode, one df-capped bucket shuffle, fold-to-
    array verification join; the direction split is in-row."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.containment_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8
    )
    return pairs.select(
        "src", "sup", F.round("containment", 4).alias("containment")
    ).orderBy("src", "sup")


@q(
    "q188_per_source_quality_cap",
    """
    WITH scored AS (
        SELECT doc_id, source,
               __QUALITY_SCORE__ AS quality_score
        FROM documents),
    ranked AS (
        SELECT doc_id, source, quality_score,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id)
                   AS rk
        FROM scored)
    SELECT doc_id, source, quality_score, rk
    FROM ranked WHERE rk <= 10
    ORDER BY source, rk
    """,
)
def q188_per_source_quality_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source document cap (operators/sampling.py:
    top_k_per_group): keep only the 10 highest-quality documents of
    each source — the RefinedWeb/C4-style domain-cap curation step
    that stops one crawl host from dominating the training mix,
    applied by the q38 rule-based quality score with doc_id as the
    deterministic tie-break (a non-total order would make the kept
    set partition-dependent — the exact bug hash-split exists to
    kill). Exactness: the score is the shared _QUALITY_SCORE_SQL
    splice (ONE formula definition across engines); ROW_NUMBER
    under a total order is engine-independent. Scale: one
    hash-partitioned window on source with a spillable sort; for a
    pathologically skewed single source, pre-filter with an approx
    per-source score threshold (q90's two-phase posture) before
    the exact window."""
    from ..operators import sampling

    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    capped = sampling.top_k_per_group(
        docs.select("doc_id", "source", "quality_score"),
        ["source"],
        [F.desc("quality_score"), F.col("doc_id")],
        10,
    )
    return capped.select(
        "doc_id",
        "source",
        "quality_score",
        F.col("rk").cast("bigint").alias("rk"),
    ).orderBy("source", "rk")


@q(
    "q189_source_kl_divergence",
    """
    WITH words AS (SELECT source AS g, unnest(string_split(text, ' ')) AS w
                   FROM documents),
    gw AS (SELECT g, w, COUNT(*)::BIGINT AS cg FROM words GROUP BY 1, 2),
    corpus AS (SELECT w, SUM(cg)::BIGINT AS c FROM gw GROUP BY w),
    vocab AS (SELECT COUNT(*)::BIGINT AS V, SUM(c)::BIGINT AS n_c,
                     SUM(ROUND(ln((c + 1)::DOUBLE) * 100000)::BIGINT)::BIGINT
                         AS S0
              FROM corpus),
    per AS (SELECT g, SUM(cg)::BIGINT AS n_g, COUNT(*)::BIGINT AS m_g,
                   SUM((cg + 1) * (ROUND(ln((cg + 1)::DOUBLE) * 100000)::BIGINT
                       - ROUND(ln((c + 1)::DOUBLE) * 100000)::BIGINT))::BIGINT
                       AS present_core5,
                   SUM(ROUND(ln((c + 1)::DOUBLE) * 100000)::BIGINT)::BIGINT
                       AS present_lnc5
            FROM gw JOIN corpus USING (w) GROUP BY g),
    f AS (SELECT g, n_g, m_g, present_core5, present_lnc5, V, S0,
                 ROUND(ln((n_c + V)::DOUBLE) * 100000)::BIGINT AS lnc5,
                 ROUND(ln((n_g + V)::DOUBLE) * 100000)::BIGINT AS lng5
          FROM per CROSS JOIN vocab)
    SELECT g AS source, n_g AS n_tokens, m_g AS distinct_tokens,
           ROUND((present_core5 + (n_g + m_g) * (lnc5 - lng5)
                  + (V - m_g) * (lnc5 - lng5)
                  - (S0 - present_lnc5))::DOUBLE
                 / ((n_g + V)::DOUBLE * 100000.0), 6) AS kl_nats
    FROM f ORDER BY source
    """,
)
def q189_source_kl_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture
    (operators/drift.py:unigram_kl): KL(P_source ‖ P_corpus) with
    add-1 smoothing over the corpus vocabulary — the
    distribution-shift diagnostic a mixing pipeline runs per
    source/domain before setting sampling weights (DoReMi-adjacent:
    a source far from the mixture is contaminated, mis-crawled, or
    novel enough to re-weight). Complements q177/q182, which watch
    a NUMERIC column's distribution; this watches the token
    distribution itself. Exactness: every ln is pinned to integer
    1e-5 nat units, both partial sums are BIGINT, and the
    absent-word mass folds into closed form via ln-factor
    separation — only (source, present-word) pairs materialize, yet
    the sum is over the FULL vocab (see the kernel docstring for
    the identity). One IEEE division at the end. Scale: one explode
    into a (source, word) partial-combining count; the corpus table
    is its re-aggregate; two 1-row scalars broadcast back — nothing
    materializes source×vocab."""
    from ..operators.drift import unigram_kl

    docs = table(spark, "documents", sf_dir)
    return unigram_kl(docs, "text", "source").orderBy("source")


@q(
    "q190_seeded_shuffle_order",
    """
    SELECT ('0x' || substr(md5('7:' || doc_id), 1, 8))::BIGINT
               AS shuffle_key,
           doc_id, source
    FROM documents
    ORDER BY shuffle_key, doc_id
    """,
)
def q190_seeded_shuffle_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic global training-order shuffle (operators/
    sampling.py:seeded_shuffle): every document keyed by the seeded
    md5 lottery (seed 7) and totally ordered by (shuffle_key,
    doc_id) — the reproducible-epoch-order primitive. orderBy(
    rand(seed)) cannot provide this (Spark's rand streams per
    partition index, so a repartition reshuffles the 'shuffle');
    the md5 key is a pure row function, byte-identical across
    runs, partitionings, and engines (the hash_split portability
    contract), and epoch k just uses seed+k. Exactness: same
    first-8-hex-chars md5 convention as the split/PPS lotteries —
    ONE cross-engine definition. Scale: the orderBy compiles to a
    range-partitioned sort (sampled boundaries, no single task);
    shard writers consume it as repartitionByRange +
    sortWithinPartitions; a contiguous global position, when
    genuinely needed, is the q58 dense-id two-phase path — never a
    global window."""
    from ..operators import sampling

    docs = table(spark, "documents", sf_dir).select("doc_id", "source")
    return sampling.seeded_shuffle(docs, "doc_id", 7)


@q("q191_cms_heavy_hitters")  # rows-only: sketch estimates by design
def q191_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches.py): the
    top-20 users by ESTIMATED event count from a fixed-size 5×16384
    cell sketch — the sub-linear scale twin of q116's exact windowed
    heavy hitters, for the 100 TB regime where one row per distinct
    key is itself the bottleneck (10⁹⁺ keys vs 80 K counters). The
    sketch is mergeable by cell-wise addition (disjoint row slices'
    partials sum to the union's sketch — the drift-monitor
    additivity contract), so per-day/per-batch partials roll up
    without reprocessing. Estimates are one-sided (est ≥ true), so
    the true heavy hitters are always present in the candidate
    ranking; near-ties may reorder vs exact counts — rows-only by
    design, with the recovery/merge/exactness-at-width guarantees
    pinned in tests/test_sketches.py. Scale: one in-row posexplode
    (depth cells per event) + ONE partial-combining sum keyed by
    cell id — shuffle volume bounded by sketch size × partitions,
    independent of row count; candidate estimation joins bounded
    key sets against the cell table."""
    from ..operators.sketches import cms_topk

    ev = table(spark, "events", sf_dir)
    return cms_topk(ev, "user_id", k=20).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("est").cast("bigint").alias("est_events"),
    )


@q(
    "q192_token_kl_drift",
    """
    WITH pts AS (
        SELECT w AS v, SUM(ca)::BIGINT AS ca, SUM(cb)::BIGINT AS cb
        FROM (
            SELECT unnest(string_split(text, ' ')) AS w,
                   CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ca,
                   CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS cb
            FROM documents WHERE source IN ('src0', 'src1'))
        GROUP BY w),
    agg AS (
        SELECT SUM(ca)::BIGINT AS n_a, SUM(cb)::BIGINT AS n_b,
               COUNT(*)::BIGINT AS V,
               SUM((cb + 1) * (ROUND(ln((cb + 1)::DOUBLE) * 100000)::BIGINT
                   - ROUND(ln((ca + 1)::DOUBLE) * 100000)::BIGINT))::BIGINT
                   AS core5
        FROM pts)
    SELECT n_a AS n_ref, n_b AS n_live, V AS vocab,
           ROUND((core5 + (n_b + V)
                  * (ROUND(ln((n_a + V)::DOUBLE) * 100000)::BIGINT
                     - ROUND(ln((n_b + V)::DOUBLE) * 100000)::BIGINT)
                 )::DOUBLE / ((n_b + V)::DOUBLE * 100000.0), 6) AS kl_nats
    FROM agg
    """,
)
def q192_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution KL drift between a reference source (src0)
    and a live source (src1) — KL(live ‖ ref) with add-1 smoothing
    over the union vocabulary (operators/drift.py:kl_from_merged),
    completing the drift triad: KS for ordered values (q177), PSI
    for binned numerics (q182), KL for categorical/token
    distributions where no ordering or binning exists. This is the
    statistic the STREAMING monitor serves from the same (v, c)
    partials lake as KS/PSI (streaming/incremental.py:
    kl_drift_snapshot — a token monitor streams explode(split(
    text)) through the existing value-count partials writer; the
    slicing-invariance test pins snapshot == this kernel).
    Exactness: the one-scan conditional-count producer (q182's
    posture) collapses the corpus once into (word, ca, cb); every
    ln pins to integer 1e-5 nat units; the numerator is BIGINT; ONE
    IEEE division at the end. Scale: one explode + one partial-
    combining aggregate, then a 1-row reduce — vocab-bounded, no
    windows, no joins."""
    from ..operators.drift import kl_from_merged

    docs = table(spark, "documents", sf_dir)
    pts = (
        docs.where(F.col("source").isin("src0", "src1"))
        .select(
            F.col("source"),
            F.explode(F.split("text", " ")).alias("v"),
        )
        .groupBy("v")
        .agg(
            F.sum(
                F.when(F.col("source") == "src0", 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") == "src1", 1).otherwise(0)
            ).alias("cb"),
        )
    )
    return kl_from_merged(pts)


@q(
    "q193_semantic_dedup_export",
    """
    WITH RECURSIVE
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.ve, b.ve) >= 0.45),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    scored AS (SELECT doc_id, __QUALITY_SCORE__ AS quality_score
               FROM documents),
    ranked AS (
        SELECT comp.doc_id, component_id, quality_score,
               ROW_NUMBER() OVER (PARTITION BY component_id
                                  ORDER BY quality_score DESC,
                                           comp.doc_id) AS rn
        FROM comp JOIN scored ON scored.doc_id = comp.doc_id)
    SELECT doc_id, component_id, quality_score
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q193_semantic_dedup_export(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup-style applied export (Abbas et al. 2023 composed
    end-to-end): exact cosine near-dup pairs over the embedding
    space (the q37 kernel, threshold 0.45) → connected components
    (the q66 transitive closure — embedding similarity is no more
    transitive than n-gram Jaccard) → keep ONE representative per
    semantic cluster, the q92 quality-argmax (q38 score, doc_id
    tie-break). The embedding-space sibling of q112's n-gram
    near-dup export: paraphrased duplicates share no shingles but
    do share a neighborhood. Exactness: the cosine fold is
    bit-identical to DuckDB's list_cosine_similarity (q36/q37
    contract), components are order-independent min-labels, the
    representative window is a total order — fully oracled
    (recursive CTE) even though three operators compose. Scale:
    this is the labeled EXACTNESS BASELINE — its pair generator is
    q37's all-pairs cosine (O(N²) by contract, excluded from the
    scaling sweep exactly like q37; the 50× probe measured α=1.88
    and prompted this split). The deployed path is q199, the same
    composition over q91's cluster-bucketed pairs (α≈0.3), with a
    fixture-scale agreement test binding the two. Components run
    union-find under the 1M-edge bound; bodies never shuffle."""
    from ..operators import graph

    emb = table(spark, "embeddings", sf_dir)
    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    pairs = similarity.cosine_neardup_pairs(emb, threshold=0.45).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = graph.dedup_clusters(
        docs.select("doc_id"), pairs
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return (
        comp.join(
            docs.select("doc_id", "quality_score"), "doc_id"
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component_id", "quality_score")
        .orderBy("doc_id")
    )


@q(
    "q194_hybrid_rrf_topk",
    """
    WITH q AS (SELECT doc_id AS query_id, text FROM documents
               WHERE doc_id % 97 = 0 AND doc_id < 500),
    post AS (SELECT DISTINCT t.term, d.doc_id
             FROM (SELECT doc_id,
                          unnest(list_filter(string_split(lower(text), ' '),
                                             x -> x <> '')) AS term
                   FROM documents) AS t(doc_id, term),
                  (SELECT doc_id FROM documents) d
             WHERE d.doc_id = t.doc_id),
    nd AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    dft AS (SELECT term, COUNT(*)::BIGINT AS df FROM post GROUP BY term),
    qt AS (SELECT query_id,
                  unnest(list_distinct(list_filter(
                      string_split(lower(text), ' '), x -> x <> '')))
                      AS term
           FROM q),
    lex_scored AS (
        SELECT qt.query_id, post.doc_id,
               SUM(ROUND(ln((n + 1)::DOUBLE / (df + 1)::DOUBLE)
                         * 100000)::BIGINT)::BIGINT AS score5
        FROM qt JOIN post USING (term) JOIN dft USING (term)
        CROSS JOIN nd
        WHERE post.doc_id <> qt.query_id
        GROUP BY qt.query_id, post.doc_id),
    lex AS (
        SELECT query_id, doc_id, rn AS ra FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score5 DESC, doc_id) AS rn
            FROM lex_scored) t WHERE rn <= 20),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sem_scored AS (
        SELECT qv.vec_id AS query_id, cv.vec_id AS doc_id,
               list_cosine_similarity(qv.ve, cv.ve) AS cos
        FROM (SELECT * FROM v WHERE vec_id % 97 = 0 AND vec_id < 500) qv
        CROSS JOIN v cv
        WHERE cv.vec_id <> qv.vec_id),
    sem AS (
        SELECT query_id, doc_id, rn AS rb FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, doc_id) AS rn
            FROM sem_scored) t WHERE rn <= 20),
    fused AS (
        SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
               COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               ROUND(
                   (CASE WHEN ra IS NOT NULL
                         THEN 1.0 / (60 + ra::DOUBLE) ELSE 0.0 END)
                   + (CASE WHEN rb IS NOT NULL
                           THEN 1.0 / (60 + rb::DOUBLE) ELSE 0.0 END),
                   9) AS rrf_score
        FROM lex FULL OUTER JOIN sem
             ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id)
    SELECT query_id, doc_id, rrf_score FROM (
        SELECT query_id, doc_id, rrf_score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused) t
    WHERE rn <= 10
    ORDER BY query_id, rrf_score DESC, doc_id
    """,
)
def q194_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (operators/
    retrieval.py:lexical_overlap_topk + rrf_fuse; Cormack et al.
    SIGIR'09): each probe document (doc_id % 97 == 0 within
    the first 500 ids — a FIXED eval suite whose size does not grow
    with the corpus, which is what keeps the broadcast-semantic side
    linear in N; the 50× probe measures α≈0.3 after this bound) retrieves top-20 candidates TWICE —
    lexically (idf-weighted distinct-term overlap with BIGINT
    pinned-idf scores, the exact-arithmetic sibling of q154's
    float BM25) and semantically (q36's exact cosine over the
    aligned embeddings) — and RRF fuses the two rank lists:
    rrf = 1/(60+r_lex) + 1/(60+r_sem) over the candidate union,
    top-10 per query. The modern retrieval-serving default
    (lexical catches exact terms, embeddings catch paraphrase; RRF
    needs no score calibration). Exactness: BOTH rankers are
    combine-order free (BIGINT idf sum; the bit-pinned cosine
    fold), ranks are total orders, and the fused score is a fixed
    two-term IEEE chain rounded once — a fully-oracled hybrid
    pipeline. Scale: query terms semi-join-filter the postings
    before any aggregate (candidates = docs sharing ≥1 term);
    queries broadcast on the semantic side (q108 posture — swap in
    IVF routing past 10⁸ vectors); the fusion join touches ≤ 2·20
    rows per query."""
    from ..operators import retrieval

    docs = table(spark, "documents", sf_dir)
    emb = table(spark, "embeddings", sf_dir)
    q_docs = docs.where(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 500)
    ).select(F.col("doc_id").alias("query_id"), "text")
    lex = retrieval.lexical_overlap_topk(
        docs, q_docs, query_id_col="query_id", k=20
    )
    sem = similarity.brute_force_topk(
        emb,
        emb.where((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 500)),
        k=20,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = retrieval.rrf_fuse(lex, sem, k_rrf=60, topk=10)
    return fused.orderBy("query_id", F.desc("rrf_score"), "doc_id")


@q(
    "q195_quantile_normalize",
    """
    WITH scored AS (
        SELECT doc_id, source,
               __QUALITY_SCORE__ AS quality_score
        FROM documents),
    n AS (SELECT COUNT(*)::BIGINT AS n_total FROM scored),
    within AS (
        SELECT doc_id, source, quality_score,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality_score, doc_id)
                   ::BIGINT AS r,
               COUNT(*) OVER (PARTITION BY source)::BIGINT AS m
        FROM scored),
    gtab AS (
        SELECT quality_score AS gval,
               ROW_NUMBER() OVER (ORDER BY quality_score, doc_id)
                   ::BIGINT AS gr
        FROM scored)
    SELECT doc_id, source, quality_score, gtab.gval AS norm_score
    FROM within CROSS JOIN n
    JOIN gtab ON gtab.gr = (r * n_total + m - 1) // m
    ORDER BY doc_id
    """,
)
def q195_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the quality score:
    each document's score is replaced by the GLOBAL score value at
    its within-source quantile (target global rank =
    ceil(r·N/m) in pure integer arithmetic) — the calibration step
    that makes per-source quality thresholds comparable when each
    source's scorer has its own bias/scale (one source's 0.6 is
    another's 0.9; after normalization a single global cut applies
    everywhere). Completes q162, which EXPOSES per-source
    percent_rank/cume_dist but maps no values. Exactness: ranks are
    integer total orders, the target-rank formula is BIGINT ceil
    division, and norm_score is an exact lookup of an existing
    score value — no interpolation, nothing float beyond the score
    itself. Scale: the within-source window hash-partitions on
    source; the GLOBAL rank is NOT a single-task window — it's the
    q58 dense-id path (repartitionByRange on (score, doc_id) +
    per-partition offsets from one count-per-partition broadcast),
    so the total order costs a range shuffle; the rank lookup is an
    equi-join on bare (rank, value) pairs."""
    from ..operators.mutations import assign_dense_ids

    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    scored = docs.select("doc_id", "source", "quality_score")
    n_total = scored.count()
    w_src = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    within = scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.row_number().over(w_src).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("m"),
    )
    nparts = spark.sparkContext.defaultParallelism
    glob = assign_dense_ids(
        scored.repartitionByRange(
            nparts, "quality_score", "doc_id"
        ).sortWithinPartitions("quality_score", "doc_id"),
        "gr",
    ).select(F.col("quality_score").alias("gval"), "gr")
    target = F.expr("(r * __n + m - 1) div m")
    return (
        within.withColumn("__n", F.lit(n_total).cast("bigint"))
        .withColumn("__t", target)
        .join(glob, F.col("__t") == glob["gr"])
        .select(
            "doc_id", "source", "quality_score", F.col("gval").alias("norm_score")
        )
        .orderBy("doc_id")
    )


@q(
    "q196_temperature_mix",
    """
    WITH tok AS (
        SELECT source,
               SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
    w AS (SELECT source, n_tokens,
                 ROUND(sqrt(n_tokens::DOUBLE) * 100000)::BIGINT AS w5
          FROM tok),
    tot AS (SELECT SUM(w5)::BIGINT AS tw FROM w),
    base AS (
        SELECT source, n_tokens, w5,
               (1000000 * w5) // tw AS fl,
               (1000000 * w5) % tw AS rem
        FROM w CROSS JOIN tot),
    left_t AS (SELECT (1000000 - SUM(fl))::BIGINT AS leftover FROM base),
    ranked AS (
        SELECT source, n_tokens, w5, fl,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        FROM base)
    SELECT source, n_tokens, w5 AS weight_sqrt5,
           (fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
               AS budget
    FROM ranked CROSS JOIN left_t
    ORDER BY source
    """,
)
def q196_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-mixture weights (the DoReMi/
    multilingual-sampling τ-temperature trick at τ = 1/2): per-source
    sampling weight ∝ sqrt(token mass) — flattening the natural
    distribution so head sources stop dominating and tail sources
    up-sample — then a 1M-token budget apportioned by those weights
    with the q101 largest-remainder (Hamilton) scheme, Σ budget ≡
    1 000 000 by construction. τ = 1/2 is chosen deliberately: IEEE
    sqrt is correctly rounded in BOTH engines (a general n^τ via
    exp(τ·ln n) is not), and the weight pins to BIGINT 1e-5 units
    immediately, so the whole apportionment — floors, remainders,
    leftover ranks — is integer arithmetic, hash-exact. Scale: one
    partial-combining per-source aggregate over the corpus;
    everything downstream runs on #sources-bounded rows with 1-row
    broadcasts."""
    docs = table(spark, "documents", sf_dir)
    tok = (
        docs.select(
            "source",
            F.size(F.split("text", " ")).cast("long").alias("tk"),
        )
        .groupBy("source")
        .agg(F.sum("tk").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    w = tok.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 100000)
        .cast("bigint")
        .alias("w5"),
    )
    tot = w.agg(F.sum("w5").alias("tw"))
    base = w.join(F.broadcast(tot), F.lit(True), "inner").select(
        "source",
        "n_tokens",
        "w5",
        F.expr("(1000000 * w5) div tw").alias("fl"),
        F.expr("(1000000 * w5) % tw").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(1000000) - F.sum("fl")).cast("bigint").alias("leftover")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("rem"), "source")),
    )
    return (
        ranked.join(F.broadcast(leftover), F.lit(True), "inner")
        .select(
            "source",
            "n_tokens",
            F.col("w5").alias("weight_sqrt5"),
            (
                F.col("fl")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("budget"),
        )
        .orderBy("source")
    )


@q(
    "q197_last_touch_attribution",
    """
    WITH base AS (
        SELECT event_id, user_id, ts, event_type, value,
               LAST_VALUE(CASE WHEN event_type = 'click'
                          THEN event_id END IGNORE NULLS) OVER wp
                   AS click_id,
               LAST_VALUE(CASE WHEN event_type = 'click'
                          THEN epoch_us(ts) END IGNORE NULLS) OVER wp
                   AS click_us
        FROM events
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING))
    SELECT event_id AS purchase_id, user_id,
           ROUND(value::DECIMAL(28,6), 4)::DOUBLE AS purchase_value,
           CASE WHEN click_us IS NOT NULL
                 AND epoch_us(ts) - click_us <= 604800000000::BIGINT
                THEN click_id END AS attributed_click_id,
           CASE WHEN click_us IS NOT NULL
                 AND epoch_us(ts) - click_us <= 604800000000::BIGINT
                THEN (epoch_us(ts) - click_us) // 1000000 END
               AS gap_seconds
    FROM base WHERE event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def q197_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution: every purchase is attributed to the
    SAME user's most recent click strictly before it, within a
    7-day lookback — the classic marketing/event-analytics as-of
    pattern, expressed as ONE per-user window pass instead of an
    as-of JOIN (the q147/q161 LAST_VALUE-IGNORE-NULLS carry): the
    click id and click time ride forward over the user's ordered
    event stream, and the purchase row decides attribution in-row.
    Purchases with no qualifying click report NULLs (unattributed —
    counted, never dropped). Exactness: the window order is total
    (ts, event_id); the gap is integer microsecond arithmetic
    floor-divided to seconds; value renders through the decimal
    round convention. Scale: one hash-partitioned window on
    user_id, spillable sort, no join — strictly cheaper than the
    as-of join shape (q56) because the probe side and build side
    are the same stream; at 100 TB the lookback bound also caps
    state in the streaming twin (watermark = 7 days)."""
    from ..catalog import table as t

    ev = t(spark, "events", sf_dir)
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")),
        ignorenulls=True,
    ).over(wp)
    click_us = F.last(
        F.when(
            F.col("event_type") == "click", F.unix_micros(F.col("ts"))
        ),
        ignorenulls=True,
    ).over(wp)
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        click_id.alias("click_id"),
        click_us.alias("click_us"),
    ).where(F.col("event_type") == "purchase")
    in_window = F.col("click_us").isNotNull() & (
        F.unix_micros(F.col("ts")) - F.col("click_us")
        <= 7 * 86400 * 1000000
    )
    return base.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.round(F.col("value").cast("decimal(28,6)"), 4)
        .cast("double")
        .alias("purchase_value"),
        F.when(in_window, F.col("click_id")).alias(
            "attributed_click_id"
        ),
        F.when(
            in_window,
            F.expr("(unix_micros(ts) - click_us) div 1000000"),
        ).alias("gap_seconds"),
    ).orderBy("purchase_id")


@q(
    "q198_hard_negative_mining",
    """
    WITH q AS (SELECT doc_id AS query_id, text FROM documents
               WHERE doc_id % 97 = 0 AND doc_id < 500),
    post AS (SELECT DISTINCT t.term, t.doc_id
             FROM (SELECT doc_id,
                          unnest(list_filter(string_split(lower(text), ' '),
                                             x -> x <> '')) AS term
                   FROM documents) AS t(doc_id, term)),
    nd AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    dft AS (SELECT term, COUNT(*)::BIGINT AS df FROM post GROUP BY term),
    qt AS (SELECT query_id,
                  unnest(list_distinct(list_filter(
                      string_split(lower(text), ' '), x -> x <> '')))
                      AS term
           FROM q),
    lex_scored AS (
        SELECT qt.query_id, post.doc_id,
               SUM(ROUND(ln((n + 1)::DOUBLE / (df + 1)::DOUBLE)
                         * 100000)::BIGINT)::BIGINT AS score5
        FROM qt JOIN post USING (term) JOIN dft USING (term)
        CROSS JOIN nd
        WHERE post.doc_id <> qt.query_id
        GROUP BY qt.query_id, post.doc_id),
    lex AS (
        SELECT query_id, doc_id, rn AS lex_rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score5 DESC, doc_id) AS rn
            FROM lex_scored) t WHERE rn <= 20),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sem AS (
        SELECT query_id, doc_id FROM (
            SELECT qv.vec_id AS query_id, cv.vec_id AS doc_id,
                   ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                       ORDER BY list_cosine_similarity(qv.ve, cv.ve)
                                    DESC, cv.vec_id) AS rn
            FROM (SELECT * FROM v WHERE vec_id % 97 = 0 AND vec_id < 500) qv
            CROSS JOIN v cv
            WHERE cv.vec_id <> qv.vec_id) t
        WHERE rn <= 20)
    SELECT lex.query_id, lex.doc_id, lex_rank
    FROM lex LEFT JOIN sem
         ON sem.query_id = lex.query_id AND sem.doc_id = lex.doc_id
    WHERE sem.doc_id IS NULL
    ORDER BY lex.query_id, lex_rank
    """,
)
def q198_hard_negative_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each probe query, the documents that rank in the LEXICAL top-20
    (idf-weighted term overlap — they look relevant to a
    keyword matcher) but NOT in the semantic top-20 (the embedding
    space knows better) — exactly the
    high-lexical-overlap/low-semantic-similarity candidates
    retrieval-model training wants as hard negatives (the BM25-mined
    negatives recipe of DPR, Karpukhin et al. 2020, with the
    false-negative filter applied via the semantic list). Pure
    composition of the q194 rankers joined with an ANTI instead of
    a fusion — both rankers exact, so the export is fully oracled.
    Scale: identical to q194 (the rankers dominate); the anti-join
    touches ≤ 20 rows per query per side."""
    from ..operators import retrieval

    docs = table(spark, "documents", sf_dir)
    emb = table(spark, "embeddings", sf_dir)
    q_docs = docs.where(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 500)
    ).select(F.col("doc_id").alias("query_id"), "text")
    lex = retrieval.lexical_overlap_topk(
        docs, q_docs, query_id_col="query_id", k=20
    ).select(
        "query_id",
        "doc_id",
        F.col("rank").cast("bigint").alias("lex_rank"),
    )
    sem = similarity.brute_force_topk(
        emb,
        emb.where((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 500)),
        k=20,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"))
    return (
        lex.join(sem, ["query_id", "doc_id"], "left_anti")
        .orderBy("query_id", "lex_rank")
    )


@q("q199_semantic_dedup_export_scale")  # rows-only: bucketed recall
def q199_semantic_dedup_export_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The deployed SemDeDup export: q193's composition (cosine
    pairs ≥ 0.45 → connected components → per-cluster quality
    argmax) with the pair generator swapped from the all-pairs
    exactness baseline to q91's cluster-bucketed semantic_neardup
    (k-means cells, multi-probe assignment, exact cosine verify
    within cells — α≈0.3 at the 50× probe vs q193's measured 1.88).
    Rows-only by design: a pair straddling every probed cell
    boundary can be missed, so the kept set is recall-bounded, not
    oracle-exact — tests/test_scale_twins.py pins fixture-scale
    agreement with q193 plus the structural invariants (one
    representative per component, kept ⊆ corpus). Scale: candidate
    cost N·occupancy·probe² with constant occupancy by auto-k;
    components under the union-find bound; ids/labels shuffle,
    never vectors or bodies."""
    from ..operators import graph

    emb = table(spark, "embeddings", sf_dir)
    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    pairs = similarity.semantic_neardup(emb, threshold=0.45).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = graph.dedup_clusters(docs.select("doc_id"), pairs)
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return (
        comp.join(docs.select("doc_id", "quality_score"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component_id", "quality_score")
        .orderBy("doc_id")
    )


@q(
    "q200_trailing_window_features",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER w::BIGINT AS n_events_1h,
           ROUND(SUM(value::DECIMAL(28,6)) OVER w, 4)::DOUBLE
               AS value_sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def q200_trailing_window_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event trailing-hour features: for EVERY event, the count
    and value-sum of the same user's events in the preceding hour
    (inclusive) — the online-feature backfill shape (fraud/abuse/
    engagement models train on exactly these sliding aggregates,
    and the batch backfill must reproduce what the serving-time
    feature store computed). This is a RANGE frame over event-time
    microseconds — each row gets its OWN interval — which is a
    different physical window than q82's day-bucketed ROWS/RANGE
    (per-day spine) or q28's tumbling buckets: no bucketing
    distortion at window edges. Exactness: RANGE frames include all
    ties by VALUE, so the result is independent of tie order; the
    sum rides the decimal convention; the bound 3 599 999 999 µs
    makes the frame exactly (t-1h, t]. Scale: one hash-partitioned
    window on user_id with a spillable range-sliding buffer —
    Spark's WindowExec keeps only the live frame; the streaming twin
    is q28's watermarked aggregation with a sliding duration."""
    ev = table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3599999999, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_events_1h"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).over(w), 4)
        .cast("double")
        .alias("value_sum_1h"),
    ).orderBy("event_id")


@q(
    "q201_corpus_datasheet",
    """
    WITH scored AS (
        SELECT doc_id, source, lang, n_chars, text,
               len(string_split(text, ' '))::BIGINT AS n_tok,
               __QUALITY_SCORE__ AS quality_score
        FROM documents)
    SELECT COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS n_tokens,
           SUM(n_chars)::BIGINT AS n_chars,
           COUNT(DISTINCT source)::BIGINT AS n_sources,
           COUNT(DISTINCT lang)::BIGINT AS n_langs,
           COUNT(DISTINCT md5(text))::BIGINT AS distinct_texts,
           ROUND(1.0 - COUNT(DISTINCT md5(text))::DOUBLE
                     / COUNT(*)::DOUBLE, 6) AS dup_rate,
           ROUND(SUM(quality_score::DECIMAL(18,4))::DOUBLE
                 / COUNT(*)::DOUBLE, 6) AS mean_quality,
           SUM(CASE WHEN regexp_matches(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                 OR regexp_matches(text, '[0-9]{4,}')
               THEN 1 ELSE 0 END)::BIGINT AS pii_docs
    FROM scored
    """,
)
def q201_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet ("Datasheets for Datasets", Gebru et
    al. CACM 2021, the quantitative half): document/token/char
    totals, source and language cardinalities, exact-duplicate rate
    (1 − distinct texts / docs, texts compared by md5 so the
    distinct shuffles 16-byte digests, never bodies — portable to
    the oracle, unlike xxhash64), mean q38 quality (exact decimal
    sum, ONE IEEE division), and the count of documents carrying
    PII patterns (the q62 regex pair, pre-redaction census). The
    release-gate summary a curation run publishes next to its
    export. Exactness: counts and decimal sums only; two rounded
    divisions. Scale: ONE corpus scan feeding a multi-distinct
    aggregate (Catalyst expands it map-side; the distinct-digest
    path shuffles (digest) pairs); no joins, no windows."""
    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    pii = F.col("text").rlike(textstats.EMAIL_RE) | F.col("text").rlike(
        textstats.LONG_NUM_RE
    )
    return docs.select(
        "source",
        "lang",
        "n_chars",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        "quality_score",
        pii.cast("int").alias("has_pii"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct(F.md5("text")).cast("bigint").alias(
            "distinct_texts"
        ),
        F.round(
            1.0
            - F.count_distinct(F.md5("text")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,4)")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_quality"),
        F.sum("has_pii").cast("bigint").alias("pii_docs"),
    )


@q(
    "q202_key_skew_census",
    """
    WITH c AS (SELECT o_custkey AS key, COUNT(*)::BIGINT AS cnt
               FROM orders GROUP BY o_custkey),
    tot AS (SELECT SUM(cnt)::BIGINT AS n, COUNT(*)::BIGINT AS n_keys,
                   MAX(cnt)::BIGINT AS max_cnt FROM c)
    SELECT rk, key, cnt,
           ROUND(cnt::DOUBLE / n::DOUBLE, 6) AS share,
           ROUND(cnt::DOUBLE * n_keys::DOUBLE / n::DOUBLE, 4)
               AS x_mean
    FROM (SELECT key, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk
          FROM c) t CROSS JOIN tot
    WHERE rk <= 20
    ORDER BY rk
    """,
)
def q202_key_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/groupBy key-skew census: the 20 heaviest values of a
    prospective shuffle key (orders.o_custkey) with their absolute
    count, share of all rows, and multiple-of-the-mean — the
    pre-flight diagnosis that decides between a plain hash join,
    the q51 salted join, and AQE skew splitting (a key at 1000× the
    mean is a straggler task; at 10⁶× it is an OOM). Exactness:
    integer counts, a total-order rank, two one-shot IEEE
    divisions. Scale: the census aggregate partial-combines on the
    key (the exact shuffle the real query would do, but carrying
    8-byte counts); the top-20 is a windowed rank over the
    key-cardinality count table — swap in a per-partition local
    top-k prefilter (the q191 CMS posture) when key cardinality
    itself is the bottleneck; the totals are one broadcast row."""
    o = table(spark, "orders", sf_dir)
    c = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = c.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    ranked = c.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "key")),
    ).where(F.col("rk") <= 20)
    return (
        ranked.join(F.broadcast(tot), F.lit(True), "inner")
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "key",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(
                F.col("cnt").cast("double") / F.col("n").cast("double"), 6
            ).alias("share"),
            F.round(
                F.col("cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("n").cast("double"),
                4,
            ).alias("x_mean"),
        )
        .orderBy("rk")
    )


@q(
    "q203_event_transition_matrix",
    """
    WITH seq AS (
        SELECT event_type AS next_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                   AS prev_type
        FROM events),
    c AS (SELECT prev_type, next_type, COUNT(*)::BIGINT AS cnt
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, next_type),
    tot AS (SELECT prev_type, SUM(cnt)::BIGINT AS n_from
            FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, cnt,
           ROUND(cnt::DOUBLE / n_from::DOUBLE, 6) AS prob
    FROM c JOIN tot ON tot.prev_type = c.prev_type
    ORDER BY c.prev_type, c.next_type
    """,
)
def q203_event_transition_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (previous event type → next event type)
    pair, the transition count and the row-normalized probability —
    the sequence-mining summary behind next-action prediction
    features, funnel-anomaly detection (a probability shifting
    week-over-week is a product change or a bot), and q164's journey
    signatures (this is their 2-gram marginal). Exactness: LAG
    under a total per-user order (ts, event_id); integer counts;
    ONE IEEE division per matrix cell rounded once. Scale: one
    hash-partitioned window on user_id (the q197 shape) feeding a
    partial-combining count whose key space is |event types|² —
    tiny regardless of corpus; the row-sum join is |types|-bounded
    and broadcasts."""
    ev = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = c.groupBy(F.col("prev_type").alias("pt")).agg(
        F.sum("cnt").alias("n_from")
    )
    return (
        c.join(F.broadcast(tot), c["prev_type"] == tot["pt"])
        .select(
            "prev_type",
            "next_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(
                F.col("cnt").cast("double") / F.col("n_from").cast("double"),
                6,
            ).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


@q(
    "q204_fulfillment_lag",
    """
    WITH lag_t AS (
        SELECT o_orderpriority,
               date_diff('day', o_orderdate, l_shipdate)::BIGINT
                   AS lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n_lines,
           MIN(lag_days)::BIGINT AS min_lag,
           ROUND(quantile_cont(lag_days, 0.5), 4) AS p50_lag,
           ROUND(quantile_cont(lag_days, 0.9), 4) AS p90_lag,
           MAX(lag_days)::BIGINT AS max_lag
    FROM lag_t GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q204_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship fulfillment latency by priority class: per
    lineitem, days between the order date and its ship date,
    summarized as count/min/median/p90/max per o_orderpriority —
    the operational-SLA distribution report (is 1-URGENT actually
    shipping faster?) built on the q71 exact-percentile convention
    (Spark ``percentile`` is a partial-mergeable exact aggregate;
    interpolation is the same fixed (1-h)·lo + h·rk chain in both
    engines; day lags are exact integers, so the interpolated
    values are reproducible). Scale: the fact-fact join shuffles on
    l_orderkey/o_orderkey (the q113 posture — bucket both tables on
    orderkey to eliminate it, tests/test_bucketing.py's layout);
    the percentile aggregate partial-combines per priority; at
    extreme scale swap approx_percentile like the q69→q72 family."""
    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).cast("bigint").alias("lag_days"),
    )
    return (
        lag.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("lag_days").cast("bigint").alias("min_lag"),
            F.round(F.percentile("lag_days", 0.5), 4).alias("p50_lag"),
            F.round(F.percentile("lag_days", 0.9), 4).alias("p90_lag"),
            F.max("lag_days").cast("bigint").alias("max_lag"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "q205_leakage_safe_split",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node)
    SELECT doc_id, component_id,
           CASE WHEN b >= 0 AND b < 80 THEN 'train'
                WHEN b >= 80 AND b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, component_id,
                 ('0x' || substr(md5(component_id::VARCHAR), 1, 8))
                     ::BIGINT % 100 AS b
          FROM comp) t
    ORDER BY doc_id
    """,
)
def q205_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are split by
    their NEAR-DUP CLUSTER id, not their own id — every member of a
    duplicate cluster lands in the same split, closing the classic
    eval bug q52's row-level hash split leaves open (a paraphrase
    of a training document scoring as 'held-out' test data; the
    failure q83's cross-source leakage report detects after the
    fact, prevented here by construction). Composition: q33's
    Jaccard≥0.5 pairs → q66's min-label components → the q52 md5
    bucket lottery applied to component_id (same 80/10/10 bands,
    same portable first-8-hex-chars convention — singleton docs get
    component_id == doc_id, so a dup-free corpus degrades exactly
    to q52's split). Exactness: components are order-independent
    min-labels; the bucket is pure integer arithmetic on md5.
    Scale: components come from the per-process materialized cluster
    table (_materialized_neardup_components — q112's seam: a
    deployed pipeline maintains its cluster table and derives splits
    FROM it; q66 still attests the live closure build); the split
    label is a map-side expression — no extra shuffle past the
    components."""
    from ..operators.sampling import split_column

    comp = _materialized_neardup_components(spark, sf_dir)
    return comp.select(
        "doc_id",
        "component_id",
        split_column(
            F.col("component_id"),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).alias("split"),
    ).orderBy("doc_id")


@q(
    "q206_pps_sample_per_source",
    """
    WITH weighted AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                    ::DOUBLE / 4294967296.0)
                   / len(string_split(text, ' '))::DOUBLE AS sample_key
        FROM documents
        WHERE doc_id IS NOT NULL
          AND len(string_split(text, ' ')) > 0),
    ranked AS (
        SELECT doc_id, source, n_tokens, sample_key,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY sample_key, doc_id)
                   ::BIGINT AS rk
        FROM weighted)
    SELECT doc_id, source, n_tokens,
           ROUND(sample_key, 12) AS sample_key, rk
    FROM ranked WHERE rk <= 5
    ORDER BY source, rk
    """,
)
def q206_pps_sample_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified πps sample (operators/sampling.py:
    pps_sample_per_group): exactly 5 documents from EVERY source,
    drawn probability-proportional-to-token-count without
    replacement via sequential Poisson (Ohlsson 1998) — q166's
    global design stratified, for the budget shape mixing pipelines
    actually use ("k representative docs per domain for the eval
    pack", where the global draw would let one token-heavy source
    absorb the whole budget). Same portable md5 lottery, so the
    SAME rows win on every engine/run/partitioning. Exactness: the
    key is two IEEE divisions of exact integers; the per-group rank
    is a total order; the displayed key rounds once. Scale: one
    scan-side key expression + one hash-partitioned window that
    Spark rewrites to WindowGroupLimit (per-partition group top-k
    BEFORE the exchange) — at most k rows per group per partition
    ever shuffle."""
    from ..operators.sampling import pps_sample_per_group

    docs = table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    out = pps_sample_per_group(docs, "doc_id", "n_tokens", "source", 5)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("sample_key", 12).alias("sample_key"),
        F.col("rk").cast("bigint").alias("rk"),
    ).orderBy("source", "rk")


@q(
    "q207_value_welch_ttest",
    """
    WITH m AS (
        SELECT event_type,
               COUNT(value)::BIGINT AS n,
               SUM(value::DECIMAL(28,6)) AS s1,
               SUM((value::DECIMAL(28,6)) * (value::DECIMAL(28,6))) AS s2
        FROM events WHERE value IS NOT NULL GROUP BY event_type),
    tot AS (SELECT SUM(n)::BIGINT AS tn, SUM(s1) AS ts1, SUM(s2) AS ts2
            FROM m),
    w AS (
        SELECT event_type, n,
               s1::DOUBLE / n::DOUBLE AS m1,
               (tot.ts1 - s1)::DOUBLE / (tot.tn - n)::DOUBLE AS m2,
               (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                   / (n - 1)::DOUBLE AS v1,
               ((tot.ts2 - s2)::DOUBLE
                - (tot.ts1 - s1)::DOUBLE * (tot.ts1 - s1)::DOUBLE
                  / (tot.tn - n)::DOUBLE)
                   / (tot.tn - n - 1)::DOUBLE AS v2,
               (tot.tn - n)::BIGINT AS n_rest
        FROM m CROSS JOIN tot)
    SELECT event_type, n, n_rest,
           ROUND(m1, 6) AS mean_type,
           ROUND(m2, 6) AS mean_rest,
           CASE WHEN n < 2 OR n_rest < 2 THEN NULL
                WHEN sqrt(v1 / n::DOUBLE + v2 / n_rest::DOUBLE) = 0 THEN NULL
                ELSE ROUND((m1 - m2)
                     / sqrt(v1 / n::DOUBLE + v2 / n_rest::DOUBLE), 6)
           END AS welch_t
    FROM w ORDER BY event_type
    """,
)
def q207_value_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Welch two-sample t statistic: each type's mean
    value against the mean of ALL OTHER events — the A/B-style
    "is this segment's metric actually different" report (|t| ≳ 2 ≈
    nominal 5% significance), built on the q118 decimal-moment
    discipline: one corpus scan produces per-type (n, Σx, Σx²) as
    exact decimals, the rest-of-corpus moments are the broadcast
    1-row totals minus the type's own (exact decimal subtraction —
    no second scan), and only then does a FIXED chain of IEEE ops
    (two means, two Bessel-corrected variances, one sqrt — correctly
    rounded in both engines — one division) produce the statistic,
    rounded once. Scale: one partial-combining aggregate keyed by
    type + a 1-row total broadcast; |types| rows ever after."""
    ev = table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    d = F.col("value").cast("decimal(28,6)")
    m = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
    )
    tot = m.agg(
        F.sum("n").alias("tn"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
    )
    j = m.join(F.broadcast(tot), F.lit(True), "inner")
    n = F.col("n").cast("double")
    nr = (F.col("tn") - F.col("n")).cast("double")
    m1 = F.col("s1").cast("double") / n
    m2 = (F.col("ts1") - F.col("s1")).cast("double") / nr
    v1 = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n
    ) / (n - 1)
    rs1 = (F.col("ts1") - F.col("s1")).cast("double")
    v2 = (
        (F.col("ts2") - F.col("s2")).cast("double") - rs1 * rs1 / nr
    ) / (nr - 1)
    # a side with n < 2 has no Bessel-corrected variance (n-1 = 0 is
    # an ANSI crash — singleton adversary, round 11) and a zero
    # standard error has no t at all: NULL in both engines, with the
    # CASE guard keeping the n-1 divisions unevaluated on those rows.
    se = F.sqrt(v1 / n + v2 / nr)
    t = F.when((F.col("n") < 2) | (F.col("tn") - F.col("n") < 2), F.lit(None)).otherwise(
        F.when(se == 0, F.lit(None)).otherwise(F.round((m1 - m2) / se, 6))
    )
    return j.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("tn") - F.col("n")).cast("bigint").alias("n_rest"),
        F.round(m1, 6).alias("mean_type"),
        F.round(m2, 6).alias("mean_rest"),
        t.alias("welch_t"),
    ).orderBy("event_type")


@q(
    "q208_dup_cluster_size_census",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    csizes AS (SELECT component_id, COUNT(*)::BIGINT AS cluster_size
               FROM comp GROUP BY component_id)
    SELECT cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           (cluster_size * COUNT(*))::BIGINT AS n_docs,
           (CASE WHEN cluster_size > 1
                 THEN (cluster_size - 1) * COUNT(*) ELSE 0 END)::BIGINT
               AS removable_docs
    FROM csizes GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def q208_dup_cluster_size_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size distribution: for each near-dup
    cluster size, how many clusters exist, how many documents they
    hold, and how many a keep-one dedup would remove — the one-page
    diagnosis a dedup run publishes (a heavy tail of giant clusters
    means template/boilerplate content; removable_docs totals the
    corpus shrink the q112/q193 exports will deliver, BEFORE
    committing to the rewrite). Aggregate-of-aggregate shape over
    q66's components (size per cluster, then count per size).
    Exactness: pure integer counts. Scale: components come from the
    per-process materialized cluster table
    (_materialized_neardup_components — q112's seam; q66 still
    attests the live closure build), then two partial-combining
    aggregates whose key spaces are cluster count and distinct-size
    count — both collapse fast; no windows, no joins past the
    components."""
    comp = _materialized_neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            F.when(
                F.col("cluster_size") > 1,
                (F.col("cluster_size") - 1) * F.col("n_clusters"),
            )
            .otherwise(0)
            .cast("bigint")
            .alias("removable_docs"),
        )
        .orderBy("cluster_size")
    )


@q(
    "q209_chisq_source_lang",
    """
    WITH c AS (SELECT source, lang, COUNT(*)::BIGINT AS o
               FROM documents GROUP BY source, lang),
    rows_t AS (SELECT source, SUM(o)::BIGINT AS rn FROM c GROUP BY source),
    cols_t AS (SELECT lang, SUM(o)::BIGINT AS cn FROM c GROUP BY lang),
    nn AS (SELECT SUM(o)::BIGINT AS n FROM c),
    cells AS (
        SELECT c.source, c.lang, o,
               rn::DOUBLE * cn::DOUBLE / n::DOUBLE AS e
        FROM c JOIN rows_t USING (source) JOIN cols_t USING (lang)
        CROSS JOIN nn),
    terms AS (
        SELECT source, lang, o, ROUND(e, 6) AS expected,
               (o::DOUBLE - e) * (o::DOUBLE - e) / e AS term
        FROM cells)
    SELECT source, lang, o AS observed, expected,
           ROUND(term, 6) AS term,
           ROUND(SUM(term) OVER (ORDER BY source, lang
                                 ROWS UNBOUNDED PRECEDING), 6)
               AS chisq_cum
    FROM terms ORDER BY source, lang
    """,
)
def q209_chisq_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between source and language:
    per contingency cell, observed count, expected count under
    independence (row·col/N), the cell's (O−E)²/E term, and the
    running chi-square — the categorical-association diagnostic
    that closes the statistics family (KS q177 / PSI q182 / KL
    q189+q192 / correlation q118 / Welch t q207): "does WHERE a
    document came from predict WHAT language it is", i.e. should
    lang-conditioned pipeline stages stratify by source too. The
    per-cell terms localize which (source, lang) cell drives the
    association, the q182 per-bin diagnosis applied to a two-way
    table; the last chisq_cum row is the statistic (df =
    (R−1)(C−1)). Exactness: integer counts; each cell's term is a
    fixed IEEE chain; the total accumulates in (source, lang) ORDER
    via a cumulative window so the float sum has ONE order (the PSI
    discipline). Scale: one partial-combining (source, lang) count;
    margins re-aggregate the cell table (never the corpus); the
    window runs over R·C cells — tiny by construction."""
    docs = table(spark, "documents", sf_dir)
    # The R×C cell table feeds four consumers (margins, total, the
    # term join) — materialize its handful of rows once so the
    # corpus is scanned exactly once (the q189/q101 discipline).
    c = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    rows_t = c.groupBy(F.col("source").alias("rs")).agg(
        F.sum("o").alias("rn")
    )
    cols_t = c.groupBy(F.col("lang").alias("cl")).agg(
        F.sum("o").alias("cn")
    )
    nn = c.agg(F.sum("o").alias("n"))
    e = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        / F.col("n").cast("double")
    )
    cells = (
        c.join(F.broadcast(rows_t), c["source"] == F.col("rs"))
        .join(F.broadcast(cols_t), c["lang"] == F.col("cl"))
        .join(F.broadcast(nn), F.lit(True), "inner")
        .select("source", "lang", "o", e.alias("e"))
    )
    term = (
        (F.col("o").cast("double") - F.col("e"))
        * (F.col("o").cast("double") - F.col("e"))
        / F.col("e")
    )
    w = Window.orderBy("source", "lang").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.select(
            "source",
            "lang",
            F.col("o").alias("observed"),
            F.round("e", 6).alias("expected"),
            term.alias("__t"),
        )
        .select(
            "source",
            "lang",
            "observed",
            "expected",
            F.round("__t", 6).alias("term"),
            F.round(F.sum("__t").over(w), 6).alias("chisq_cum"),
        )
        .orderBy("source", "lang")
    )


@q(
    "q210_effective_tokens_per_source",
    """
    WITH t AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS n_tok,
               md5(text) AS h
        FROM documents),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM t GROUP BY h)
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS raw_tokens,
           SUM(CASE WHEN keep.doc_id IS NOT NULL THEN n_tok
                    ELSE 0 END)::BIGINT AS effective_tokens,
           ROUND(SUM(CASE WHEN keep.doc_id IS NOT NULL THEN n_tok
                          ELSE 0 END)::DOUBLE
                 / SUM(n_tok)::DOUBLE, 6) AS unique_ratio
    FROM t LEFT JOIN keep ON keep.doc_id = t.doc_id
    GROUP BY source
    ORDER BY source
    """,
)
def q210_effective_tokens_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-adjusted contribution report: per source, raw token
    mass vs EFFECTIVE token mass (counting only each exact-dup
    group's keeper, first-doc-id convention shared with q32) and
    the unique ratio — the number mixture planning actually needs
    (a source whose raw mass is 2× another's but whose unique ratio
    is 0.4 contributes LESS novel signal; feeding raw counts into
    q101/q196 budgets over-weights self-duplicating crawls).
    Exactness: md5 grouping (distinct texts → distinct digests, the
    q201 convention), integer token sums, one rounded division.
    Scale: one scan builds the (doc, source, tokens, digest)
    projection; the keeper set is a digest-keyed partial-combining
    MIN that shuffles 16-byte digests; the semi-ish left join keys
    on doc ids only — bodies never shuffle."""
    docs = table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.md5("text").alias("h"),
    )
    keep = t.groupBy("h").agg(F.min("doc_id").alias("kid"))
    j = t.join(keep, t["doc_id"] == keep["kid"], "left")
    eff = F.when(F.col("kid").isNotNull(), F.col("n_tok")).otherwise(0)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("raw_tokens"),
            F.sum(eff).cast("bigint").alias("effective_tokens"),
            F.round(
                F.sum(eff).cast("double")
                / F.sum("n_tok").cast("double"),
                6,
            ).alias("unique_ratio"),
        )
        .orderBy("source")
    )


@q(
    "q211_rfm_segmentation",
    """
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               date_diff('day', MAX(o_orderdate),
                         TIMESTAMP '2001-08-01')::BIGINT AS recency,
               COUNT(*)::BIGINT AS frequency,
               SUM(o_totalprice::DECIMAL(28,6)) AS monetary
        FROM orders GROUP BY o_custkey),
    cuts AS (
        SELECT quantile_cont(recency, 0.25) AS r1,
               quantile_cont(recency, 0.5)  AS r2,
               quantile_cont(recency, 0.75) AS r3,
               quantile_cont(frequency, 0.25) AS f1,
               quantile_cont(frequency, 0.5)  AS f2,
               quantile_cont(frequency, 0.75) AS f3,
               quantile_cont(monetary::DOUBLE, 0.25) AS m1,
               quantile_cont(monetary::DOUBLE, 0.5)  AS m2,
               quantile_cont(monetary::DOUBLE, 0.75) AS m3
        FROM rfm)
    SELECT custkey, recency, frequency,
           ROUND(monetary, 2)::DOUBLE AS monetary,
           (CASE WHEN recency::DOUBLE <= r1 THEN 4
                 WHEN recency::DOUBLE <= r2 THEN 3
                 WHEN recency::DOUBLE <= r3 THEN 2 ELSE 1 END)::INT
               AS r_band,
           (CASE WHEN frequency::DOUBLE <= f1 THEN 1
                 WHEN frequency::DOUBLE <= f2 THEN 2
                 WHEN frequency::DOUBLE <= f3 THEN 3 ELSE 4 END)::INT
               AS f_band,
           (CASE WHEN monetary::DOUBLE <= m1 THEN 1
                 WHEN monetary::DOUBLE <= m2 THEN 2
                 WHEN monetary::DOUBLE <= m3 THEN 3 ELSE 4 END)::INT
               AS m_band
    FROM rfm CROSS JOIN cuts
    ORDER BY custkey
    """,
)
def q211_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quartile bands — the classic CRM cohorting): per customer, days
    since last order (anchored at the fixture's max order date),
    order count, and decimal spend, each banded 1-4 against the
    population's exact interpolated quartiles. Deliberately NOT a
    global NTILE (the q120 trap): the three quartile boundaries
    come from ONE mergeable percentile aggregate (q71 contract —
    interpolation is the same fixed IEEE chain cross-engine) and
    broadcast back as a 1-row table, so banding is a map-side CASE
    over exact values — no global window, no single-task sort, and
    the plan survives 10⁹ customers unchanged. Recency bands invert
    (recent = 4 = best) per RFM convention. Exactness: integer
    days/counts, decimal spend rounded once, band compares are
    single IEEE comparisons against the broadcast cuts. Scale: one
    partial-combining per-customer aggregate + a 1-row quantile
    reduce + a broadcast join."""
    o = table(spark, "orders", sf_dir)
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.to_date(F.lit("2001-08-01")), F.to_date(F.max("o_orderdate"))
        )
        .cast("bigint")
        .alias("recency"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        fastdec.dec_sum(F.col("o_totalprice")).alias(
            "monetary"
        ),
    ).localCheckpoint()
    cuts = rfm.agg(
        F.percentile("recency", 0.25).alias("r1"),
        F.percentile("recency", 0.5).alias("r2"),
        F.percentile("recency", 0.75).alias("r3"),
        F.percentile("frequency", 0.25).alias("f1"),
        F.percentile("frequency", 0.5).alias("f2"),
        F.percentile("frequency", 0.75).alias("f3"),
        F.percentile(F.col("monetary").cast("double"), 0.25).alias("m1"),
        F.percentile(F.col("monetary").cast("double"), 0.5).alias("m2"),
        F.percentile(F.col("monetary").cast("double"), 0.75).alias("m3"),
    )
    band = lambda c, lo, mid, hi, asc: (
        F.when(c <= F.col(lo), F.lit(1 if asc else 4))
        .when(c <= F.col(mid), F.lit(2 if asc else 3))
        .when(c <= F.col(hi), F.lit(3 if asc else 2))
        .otherwise(F.lit(4 if asc else 1))
        .cast("int")
    )
    return (
        rfm.join(F.broadcast(cuts), F.lit(True), "inner")
        .select(
            "custkey",
            "recency",
            "frequency",
            F.round("monetary", 2).cast("double").alias("monetary"),
            band(F.col("recency").cast("double"), "r1", "r2", "r3", False).alias(
                "r_band"
            ),
            band(
                F.col("frequency").cast("double"), "f1", "f2", "f3", True
            ).alias("f_band"),
            band(
                F.col("monetary").cast("double"), "m1", "m2", "m3", True
            ).alias("m_band"),
        )
        .orderBy("custkey")
    )


# ------------------------------------------------------------------ #
# round-8 additions: driver-visible batch-equivalence for the         #
# streaming drift snapshots (round-7 verdict #6) — the KS/PSI/KL      #
# monitors were test-only; these queries run the REAL streaming       #
# producer (micro-batched value-count partials) once per process and  #
# serve each kernel's snapshot, oracled against the same SQL as the   #
# batch twins q177/q182/q192: the partials-lake invariant (snapshot   #
# == batch recompute under any micro-batch slicing) becomes a driver- #
# attested row instead of a pytest assertion.                         #
# ------------------------------------------------------------------ #

def _materialized_drift_partials(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """Build (once per process per sf_dir) the drift monitor's lake:
    frozen src0 reference count tables + STREAMED src1 value-count
    partials, produced by the actual Structured Streaming writer
    (streaming/incremental.py:streaming_value_count_partials) over a
    3-file source with maxFilesPerTrigger=1 — ≥2 real micro-batches,
    so the snapshot queries attest merge-across-batches, not a
    degenerate single-batch copy. The lake is the ``sg_drift_lake_``
    temp dir of :func:`_temp_lake`."""
    import os

    from ..operators.drift import value_counts
    from ..streaming.incremental import streaming_value_count_partials

    names = ("ref_nchars", "ref_words", "live_nchars", "live_words")

    def build(base: str) -> None:
        paths = {name: os.path.join(base, name) for name in names}
        docs = table(spark, "documents", sf_dir)
        word = lambda df: df.select(  # noqa: E731
            F.explode(F.split("text", " ")).alias("w")
        )
        value_counts(
            docs.where(F.col("source") == "src0"), "n_chars"
        ).write.parquet(paths["ref_nchars"])
        value_counts(
            word(docs.where(F.col("source") == "src0")), "w"
        ).write.parquet(paths["ref_words"])

        src = os.path.join(base, "src1_rows")
        docs.where(F.col("source") == "src1").select(
            "doc_id", "n_chars", "text"
        ).repartition(3).write.parquet(src)
        stream = lambda: (  # noqa: E731
            spark.readStream.schema("doc_id long, n_chars long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_value_count_partials(
            stream().select("doc_id", "n_chars"),
            paths["live_nchars"],
            os.path.join(base, "ckpt_nchars"),
            "n_chars",
        ).awaitTermination(300)
        streaming_value_count_partials(
            word(stream()),
            paths["live_words"],
            os.path.join(base, "ckpt_words"),
            "w",
        ).awaitTermination(300)

    base = _temp_lake("drift_lake", sf_dir, build)
    return {name: os.path.join(base, name) for name in names}


def _ref_oracle(name: str) -> str:
    from . import reference_queries

    return reference_queries.ORACLES[name]


@q("q212_streaming_ks_snapshot", None)
def q212_streaming_ks_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The KS drift verdict SERVED FROM STREAMED PARTIALS
    (streaming/incremental.py:ks_drift_snapshot): sum the live (v, c)
    micro-batch partials the streaming writer landed and run the same
    exact-BIGINT KS kernel as batch q177 against the frozen src0
    reference counts. Oracled with q177's SQL verbatim — the driver
    row attests that a monitor maintained incrementally by Structured
    Streaming answers bit-identically to a from-scratch batch
    recompute (the partials-lake invariant). Scale: partials are
    per-batch value-count tables (bounded by value cardinality);
    serve = one partial-combining sum + the vocab-bounded KS window."""
    from ..streaming.incremental import ks_drift_snapshot

    paths = _materialized_drift_partials(spark, sf_dir)
    return ks_drift_snapshot(
        spark, paths["ref_nchars"], paths["live_nchars"]
    )


@q("q213_streaming_psi_snapshot", None)
def q213_streaming_psi_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PSI drift verdict served from the SAME streamed partials lake
    as q212 (one lake, every statistic —
    streaming/incremental.py:psi_drift_snapshot), oracled with q182's
    SQL verbatim: reference-decile bins from the frozen src0 counts,
    add-1 smoothing, pinned-integer ln, per-bin rows with cumulative
    PSI. Same driver-visible invariant as q212 for the binned
    kernel."""
    from ..streaming.incremental import psi_drift_snapshot

    paths = _materialized_drift_partials(spark, sf_dir)
    return psi_drift_snapshot(
        spark, paths["ref_nchars"], paths["live_nchars"], bins=10
    )


@q("q214_streaming_kl_snapshot", None)
def q214_streaming_kl_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-distribution KL(live ‖ ref) served from streamed WORD
    count partials (streaming/incremental.py:kl_drift_snapshot — the
    producer streams explode(split(text)) through the same
    value-count writer), oracled with q192's SQL verbatim. Completes
    the driver-attested triad: KS (q212) for ordered values, PSI
    (q213) for binned numerics, KL (this) for token/categorical
    distributions, all off one partials lake."""
    from ..streaming.incremental import kl_drift_snapshot

    paths = _materialized_drift_partials(spark, sf_dir)
    return kl_drift_snapshot(
        spark, paths["ref_words"], paths["live_words"]
    )


ORACLES["q212_streaming_ks_snapshot"] = _ref_oracle("q177_ks_source_drift")
ORACLES["q213_streaming_psi_snapshot"] = _ref_oracle("q182_psi_drift")
ORACLES["q214_streaming_kl_snapshot"] = ORACLES["q192_token_kl_drift"]


# ------------------------------------------------------------------ #
# round-8 additions: corpus-governance analytics — Gopher-style       #
# repetition mass, cross-source vocabulary overlap, Heaps-law vocab   #
# growth, dedup survivorship bias.                                    #
# ------------------------------------------------------------------ #


@q(
    "q215_top_ngram_mass",
    """
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
    g AS (
        SELECT doc_id, source, w[i] || ' ' || w[i+1] AS gram
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) s),
    pc AS (SELECT doc_id, source, gram, COUNT(*) AS c
           FROM g GROUP BY 1, 2, 3),
    pd AS (SELECT doc_id, source, MAX(c) AS top_c, SUM(c) AS n_grams
           FROM pc GROUP BY 1, 2)
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN 5 * top_c > n_grams THEN 1 ELSE 0 END)::BIGINT
               AS n_flagged,
           SUM(top_c)::BIGINT AS sum_top,
           SUM(n_grams)::BIGINT AS sum_grams,
           ROUND(SUM(top_c)::DOUBLE / SUM(n_grams)::DOUBLE, 6)
               AS pooled_top_share
    FROM pd GROUP BY source ORDER BY source
    """,
)
def q215_top_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's most-frequent-n-gram repetition rule (Rae et al. 2021
    Table A1: 'fraction of characters in the most common n-gram'),
    word-bigram form, rolled up per source: how many documents have a
    single bigram carrying >20% of all bigram occurrences (the
    boilerplate/degenerate-generation signature q61's distinct-ratio
    misses — a doc can have MANY distinct grams and still be one
    phrase repeated), plus the pooled top-gram mass per source.
    Exactness: the flag is the integer compare 5*top > n; the pooled
    share divides two BIGINT sums ONCE — no float accumulates across
    rows. Scale: explode + two partial-combining aggregates keyed by
    (doc, gram) then (doc) then (source) — each strictly collapsing;
    no windows, no joins. Docs with <2 tokens carry no bigram and are
    excluded by contract (same WHERE in both engines)."""
    docs = table(spark, "documents", sf_dir)
    tok = textstats.tokens("text")
    # gram identity as xxhash64(a, b) — the q34 discipline (distinct
    # pairs ↔ distinct hashes, ~2⁻⁶⁴): the (doc, gram) exchange moves
    # an 8-byte key instead of two token strings; counts unchanged
    # (optimization round 12, guide §2.3)
    pc = (
        docs.where(F.size(tok) >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(textstats.adjacent_pairs(tok)).alias("p"),
        )
        .groupBy(
            "doc_id", "source", F.xxhash64("p.a", "p.b").alias("__g")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pd = pc.groupBy("doc_id", "source").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_grams")
    )
    return (
        pd.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(5 * F.col("top_c") > F.col("n_grams"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("top_c").cast("bigint").alias("sum_top"),
            F.sum("n_grams").cast("bigint").alias("sum_grams"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "sum_top",
            "sum_grams",
            F.round(
                F.col("sum_top").cast("double")
                / F.col("sum_grams").cast("double"),
                6,
            ).alias("pooled_top_share"),
        )
        .orderBy("source")
    )


@q(
    "q216_vocab_overlap_matrix",
    """
    WITH w0 AS (SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents),
    w AS (SELECT DISTINCT source, w FROM w0),
    s AS (SELECT source, COUNT(*)::BIGINT AS vocab FROM w GROUP BY source),
    c AS (SELECT a.source AS source_a, b.source AS source_b,
                 COUNT(*)::BIGINT AS n_common
          FROM w a JOIN w b ON a.w = b.w AND a.source < b.source
          GROUP BY 1, 2)
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b,
           COALESCE(c.n_common, 0)::BIGINT AS n_common,
           ROUND(COALESCE(c.n_common, 0)::DOUBLE
                 / (sa.vocab + sb.vocab - COALESCE(c.n_common, 0))::DOUBLE,
                 6) AS jaccard
    FROM s sa JOIN s sb ON sa.source < sb.source
    LEFT JOIN c ON c.source_a = sa.source AND c.source_b = sb.source
    ORDER BY source_a, source_b
    """,
)
def q216_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-
    governance heatmap behind mixing decisions (two crawls with 0.9
    vocab overlap are near-redundant; a 0.1-overlap source adds
    diversity; complements q83's doc-level cross-source leakage with
    a lexical-level view). Exactness: set sizes and intersections are
    integer counts; ONE division per pair row. Scale: the corpus
    collapses once into the distinct (source, word) table
    (vocab-bounded); the self-join fans each word out by at most the
    number of sources containing it (≤ #sources, a constant); the
    pair spine is the #sources² cross of two tiny aggregates
    (broadcast, bounded by contract — the governance matrix is only
    readable for tens of sources anyway)."""
    docs = table(spark, "documents", sf_dir)
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = w.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    common = (
        w.alias("a")
        .join(
            w.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    spine = (
        sizes.select(
            F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("vocab").alias("vocab_b"),
                )
            ),
            F.col("source_a") < F.col("source_b"),
        )
    )
    return (
        spine.join(common, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / (
                    F.col("vocab_a")
                    + F.col("vocab_b")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@q(
    "q217_heaps_vocab_growth",
    """
    WITH m AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    d AS (SELECT (doc_id * 10 // m) + 1 AS dec,
                 len(string_split(text, ' ')) AS nt
          FROM documents, m),
    tokd AS (SELECT dec, SUM(nt)::BIGINT AS toks FROM d GROUP BY dec),
    fs AS (SELECT w, MIN(doc_id) AS fd
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           GROUP BY w),
    vd AS (SELECT (fd * 10 // m) + 1 AS dec, COUNT(*)::BIGINT AS v
           FROM fs, m GROUP BY 1),
    sp AS (SELECT unnest(generate_series(1, 10)) AS dec)
    SELECT sp.dec::INT AS decile,
           SUM(COALESCE(toks, 0)) OVER
               (ORDER BY sp.dec ROWS UNBOUNDED PRECEDING)::BIGINT
               AS n_tokens_cum,
           SUM(COALESCE(v, 0)) OVER
               (ORDER BY sp.dec ROWS UNBOUNDED PRECEDING)::BIGINT
               AS vocab_cum
    FROM sp LEFT JOIN tokd ON tokd.dec = sp.dec
    LEFT JOIN vd ON vd.dec = sp.dec
    ORDER BY decile
    """,
)
def q217_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law V ~ k·Nᵝ): cumulative
    token count and cumulative DISTINCT-word count at ten ingest
    checkpoints (doc-id deciles — ingest order in this corpus). The
    curve a data-scaling analysis reads β off; a flattening tail
    means new data stops adding lexical novelty (q163's novelty rate,
    accumulated). Exactness: pure integer counts; the only window is
    the 10-row cumulative sum over the decile spine (bounded,
    single-partition by construction). Scale: first-occurrence per
    word is ONE partial-combining min over the exploded corpus
    (vocab-bounded output); per-decile token sums partial-combine;
    nothing downstream exceeds 10 rows. The corpus-size scalar is a
    1-row broadcast."""
    docs = table(spark, "documents", sf_dir)
    m = docs.agg((F.max("doc_id") + 1).alias("m"))
    tokd = (
        docs.join(F.broadcast(m))
        .select(
            F.expr("(doc_id * 10) div m + 1").alias("dec"),
            F.size(F.split("text", " ")).alias("nt"),
        )
        .groupBy("dec")
        .agg(F.sum("nt").cast("bigint").alias("toks"))
    )
    vd = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
        .join(F.broadcast(m))
        .select(F.expr("(fd * 10) div m + 1").alias("dec"))
        .groupBy("dec")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    spine = spark.range(1, 11).select(F.col("id").alias("dec"))
    win = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(tokd, "dec", "left")
        .join(vd, "dec", "left")
        .select(
            F.col("dec").cast("int").alias("decile"),
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(win)
            .cast("bigint")
            .alias("n_tokens_cum"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)))
            .over(win)
            .cast("bigint")
            .alias("vocab_cum"),
        )
        .orderBy("decile")
    )


@q(
    "q218_dedup_survivorship",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    quality AS (SELECT doc_id, __QUALITY_SCORE__ AS quality_score
                FROM documents),
    keep AS (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                       ORDER BY q.quality_score DESC, c.doc_id) AS rn
            FROM comp c JOIN quality q USING (doc_id)) t
        WHERE rn = 1)
    SELECT d.source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_kept,
           SUM(len(string_split(d.text, ' ')))::BIGINT AS n_tokens,
           SUM(CASE WHEN k.doc_id IS NOT NULL
                    THEN len(string_split(d.text, ' ')) ELSE 0 END)::BIGINT
               AS n_tokens_kept
    FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def q218_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship bias audit of the near-dup dedup export: per
    source, document and token counts BEFORE vs AFTER the q112
    keep-one-per-cluster rewrite. Dedup is never source-neutral —
    boilerplate-heavy crawls lose disproportionately, shifting the
    training mixture; this is the one-page before/after a curation
    run publishes next to the q57/q196 mixing plan (and the measured
    counterpart of q208's removable_docs projection). Components come
    from the per-process materialized cluster table
    (_materialized_neardup_components, the q103/q104 amortization
    pattern); the keep rule is EXACTLY q112's (quality argmax,
    doc_id tie-break), so export and audit cannot disagree.
    Exactness: integer counts only. Scale: per-cluster argmax window
    over the component table, one hash LEFT semi-ish join to flag
    keeps, one partial-combining per-source aggregate — bodies never
    shuffle."""
    docs = table(spark, "documents", sf_dir)
    comp = _materialized_neardup_components(spark, sf_dir)
    quality = textstats.quality_score(
        docs.select("doc_id", "text"), "text"
    ).select("doc_id", "quality_score")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.col("doc_id")
    )
    keep = (
        comp.join(quality, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id", F.lit(1).alias("__kept"))
    )
    return (
        docs.select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("nt")
        )
        .join(keep, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("__kept").isNotNull(), F.col("nt")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


@q(
    "q219_split_leakage_audit",
    f"""
    WITH RECURSIVE {_jaccard_pairs_cte(0.5)},
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    rowsplit AS (
        SELECT doc_id,
               CASE WHEN b >= 0 AND b < 80 THEN 'train'
                    WHEN b >= 80 AND b < 90 THEN 'val'
                    ELSE 'test' END AS s
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
                         ::BIGINT % 100 AS b
              FROM documents) t),
    clsplit AS (
        SELECT doc_id,
               CASE WHEN b >= 0 AND b < 80 THEN 'train'
                    WHEN b >= 80 AND b < 90 THEN 'val'
                    ELSE 'test' END AS s
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(component_id::VARCHAR), 1, 8))
                         ::BIGINT % 100 AS b
              FROM comp) t),
    lab AS (
        SELECT 'row_hash' AS scheme, ra.s AS sa, rb.s AS sb
        FROM pairs p
        JOIN rowsplit ra ON p.doc_a = ra.doc_id
        JOIN rowsplit rb ON p.doc_b = rb.doc_id
        UNION ALL
        SELECT 'cluster', ca.s, cb.s
        FROM pairs p
        JOIN clsplit ca ON p.doc_a = ca.doc_id
        JOIN clsplit cb ON p.doc_b = cb.doc_id)
    SELECT scheme,
           least(sa, sb) AS split_a,
           greatest(sa, sb) AS split_b,
           COUNT(*)::BIGINT AS n_pairs
    FROM lab GROUP BY 1, 2, 3
    ORDER BY scheme, split_a, split_b
    """,
)
def q219_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit matrix: near-dup pairs (q33's Jaccard≥0.5)
    counted by the splits their two members land in, under BOTH split
    schemes side by side — q52's row-level md5 lottery (where a
    paraphrase pair CAN straddle train/test: those off-diagonal
    counts ARE the leaked eval items) and q205's cluster-level
    lottery (whose off-diagonal counts are zero BY CONSTRUCTION —
    every near-dup cluster rides one lottery ticket). The pytest
    invariant (test_sampling f1055a8) becomes a driver-attested row
    set, and the row_hash-vs-cluster contrast quantifies exactly how
    much leakage the cluster split removes. Exactness: pure integer
    counts over portable md5 bucket arithmetic (the q52/q205
    convention); pair orientation normalizes via least/greatest so
    (train,test) and (test,train) are one cell. Scale: the pair
    generator is the q33 bucketed path; splits are map-side
    expressions; the only new shuffles are two hash joins from pairs
    to their endpoints' labels and one tiny (scheme, 3×3) aggregate.
    Components come from the per-process materialized table (q112's
    seam)."""
    from ..operators.sampling import split_column

    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.5
    )
    comp = _materialized_neardup_components(spark, sf_dir)
    rowsplit = docs.select(
        "doc_id",
        split_column(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).alias("s"),
    )
    clsplit = comp.select(
        "doc_id",
        split_column(
            F.col("component_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).alias("s"),
    )

    def labeled(split: DataFrame, scheme: str) -> DataFrame:
        return (
            pairs.join(
                split.select(
                    F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")
                ),
                "doc_a",
            )
            .join(
                split.select(
                    F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")
                ),
                "doc_b",
            )
            .select(
                F.lit(scheme).alias("scheme"),
                F.least("sa", "sb").alias("split_a"),
                F.greatest("sa", "sb").alias("split_b"),
            )
        )

    return (
        labeled(rowsplit, "row_hash")
        .unionByName(labeled(clsplit, "cluster"))
        .groupBy("scheme", "split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("scheme", "split_a", "split_b")
    )


@q(
    "q220_bmp_decode_meta",
    """
    SELECT doc_id AS media_id,
           (54 + ((3 * (3 + doc_id % 6) + 3) // 4 * 4)
                 * (2 + doc_id % 5))::BIGINT AS n_bytes,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           (doc_id % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q220_bmp_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode, end to end — q99's PPM twin for the second
    lib-free image container: per-document 24-bit BMP payloads are
    synthesized as genuine bottom-up BGR containers with 4-byte row
    padding (multimodal.synth_bmp), then decoded back by the REAL
    little-endian header + padded-row parser
    (multimodal.decode_bmp_features) via the same Arrow dispatch
    decode_media_features routes WAV/PPM through. The oracle predicts
    the EXACT container size including per-row padding
    (54 + ceil4(3w)·h), parsed dimensions, and the constant fill
    recovered from the channel means — a corruption anywhere in the
    byte-level round trip (header offsets, stride arithmetic, BGR
    order, bottom-up flip, normalization) hash-mismatches. Payload
    bytes never shuffle — synth and decode fuse into one narrow
    Arrow stage."""
    media = _synth_image_media(
        spark,
        sf_dir,
        lambda i: (3 + (i % 6), 2 + (i % 5), i % 256),
        multimodal.synth_bmp,
        "image/bmp",
    )
    return _ppm_meta_projection(multimodal.decode_media_features(media))


@q(
    "q221_embedding_norm_census",
    """
    WITH n AS (
        SELECT label,
               ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) * 1000000)
                   ::BIGINT AS n6
        FROM embeddings)
    SELECT label,
           COUNT(*)::BIGINT AS n_vecs,
           MIN(n6) AS min_norm6,
           MAX(n6) AS max_norm6,
           ROUND(SUM(n6)::DOUBLE / (COUNT(*)::DOUBLE * 1000000.0), 6)
               AS mean_norm
    FROM n GROUP BY label ORDER BY label
    """,
)
def q221_embedding_norm_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding L2-norm census per label — the first sanity page of
    an embedding-pipeline audit (un-normalized vectors silently break
    every cosine≈dot shortcut downstream; a label whose norm band
    differs from the rest flags an encoder version mix, the failure
    q125's drift statistic sees only after deployment). Exactness:
    the per-row norm is the deterministic sequential fold (bit-equal
    to DuckDB's list_dot_product, the q36/q183 contract) PINNED to
    integer 1e-6 units at the row — min/max/sum are then BIGINT and
    order-free; the mean is ONE IEEE division. Scale: a map-side
    projection + one partial-combining label aggregate — no windows,
    no joins, label-bounded output."""
    emb = table(spark, "embeddings", sf_dir)
    n6 = (
        F.round(
            similarity.norm(similarity.as_double_vec("embedding"))
            * 1000000.0
        )
        .cast("bigint")
        .alias("n6")
    )
    return (
        emb.select("label", n6)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("n6").alias("min_norm6"),
            F.max("n6").alias("max_norm6"),
            F.round(
                F.sum("n6").cast("double")
                / (F.count(F.lit(1)).cast("double") * 1000000.0),
                6,
            ).alias("mean_norm"),
        )
        .orderBy("label")
    )


@q(
    "q222_revenue_concentration",
    """
    WITH rev AS (
        SELECT o_custkey AS custkey,
               SUM(o_totalprice::DECIMAL(28,6)) AS revenue
        FROM orders GROUP BY o_custkey),
    cuts AS (
        SELECT quantile_cont(revenue::DOUBLE, 0.25) AS c1,
               quantile_cont(revenue::DOUBLE, 0.5)  AS c2,
               quantile_cont(revenue::DOUBLE, 0.75) AS c3
        FROM rev),
    tot AS (SELECT SUM(revenue) AS t, COUNT(*)::BIGINT AS nc FROM rev),
    banded AS (
        SELECT (CASE WHEN revenue::DOUBLE <= c1 THEN 1
                     WHEN revenue::DOUBLE <= c2 THEN 2
                     WHEN revenue::DOUBLE <= c3 THEN 3 ELSE 4 END)::INT
                   AS band,
               revenue
        FROM rev CROSS JOIN cuts)
    SELECT band,
           COUNT(*)::BIGINT AS n_customers,
           ROUND(SUM(revenue), 2)::DOUBLE AS revenue,
           ROUND(SUM(revenue)::DOUBLE / t::DOUBLE, 6) AS revenue_share
    FROM banded CROSS JOIN tot
    GROUP BY band, t ORDER BY band
    """,
)
def q222_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue concentration by customer-revenue quartile band (the
    Pareto/80-20 diagnosis): how much of total revenue the bottom/
    top revenue quartiles of customers carry — the whale-dependence
    number a risk review wants next to q211's RFM segments.
    Exactness: per-customer revenue is a DECIMAL sum (order-free);
    the three quartile cuts are ONE mergeable percentile aggregate
    (q71/q211 interpolation contract) broadcast back; band revenue
    re-aggregates in DECIMAL and rounds once; the share is one IEEE
    division against the broadcast 1-row total. Scale: one
    partial-combining per-customer aggregate, a 1-row quantile
    reduce + broadcast, then a 4-row aggregate — no global windows,
    no sorts, survives 10⁹ customers unchanged (the q211 posture)."""
    o = table(spark, "orders", sf_dir)
    rev = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        fastdec.dec_sum(F.col("o_totalprice")).alias("revenue")
    ).localCheckpoint()
    cuts = rev.agg(
        F.percentile(F.col("revenue").cast("double"), 0.25).alias("c1"),
        F.percentile(F.col("revenue").cast("double"), 0.5).alias("c2"),
        F.percentile(F.col("revenue").cast("double"), 0.75).alias("c3"),
    )
    tot = rev.agg(F.sum("revenue").alias("t"))
    band = (
        F.when(F.col("revenue").cast("double") <= F.col("c1"), 1)
        .when(F.col("revenue").cast("double") <= F.col("c2"), 2)
        .when(F.col("revenue").cast("double") <= F.col("c3"), 3)
        .otherwise(4)
        .cast("int")
    )
    return (
        rev.join(F.broadcast(cuts), F.lit(True), "inner")
        .select(band.alias("band"), "revenue")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("revenue").alias("__rev"),
        )
        .join(F.broadcast(tot), F.lit(True), "inner")
        .select(
            "band",
            "n_customers",
            F.round("__rev", 2).cast("double").alias("revenue"),
            F.round(
                F.col("__rev").cast("double") / F.col("t").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("band")
    )


@q(
    "q223_quality_auc",
    """
    WITH n AS (
        SELECT ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))
                     * 1000000)::BIGINT AS v,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
        FROM embeddings),
    g AS (SELECT v, SUM(y)::BIGINT AS p, SUM(1 - y)::BIGINT AS q
          FROM n GROUP BY v),
    c AS (SELECT v, p, q,
                 COALESCE(SUM(p + q) OVER
                     (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS cum
          FROM g),
    s AS (SELECT SUM(p)::BIGINT AS np, SUM(q)::BIGINT AS nq,
                 SUM(p * (2 * cum + p + q + 1))::BIGINT AS r2
          FROM c)
    SELECT np AS n_pos, nq AS n_neg,
           (r2 - np * (np + 1))::BIGINT AS u2,
           ROUND((r2 - np * (np + 1))::DOUBLE
                 / (2.0 * np::DOUBLE * nq::DOUBLE), 6) AS auc
    FROM s
    """,
)
def q223_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed ROC-AUC via the tie-corrected Mann-Whitney
    rank-sum — the separation audit every learned quality/filter
    score needs before it gates a corpus ('does this score actually
    rank the positive class higher, and by how much'), here scoring
    how well the embedding L2 norm (pinned to integer 1e-6 units,
    q221's statistic) separates the upper label half. AUC needs
    GLOBAL ranks, which naively means a global sort; the rank-sum
    only depends on per-distinct-VALUE (pos, neg) counts, so the
    corpus collapses once into the value-aggregated table and the
    cumulative window runs over DISTINCT values (the q177 KS
    posture — value-bounded, not corpus-bounded). Tie handling is
    the standard midrank: 2·avgrank = 2·cum + p + q + 1 keeps every
    term BIGINT; u2 = 2·U is integer-exact and the AUC is ONE IEEE
    division at the end — hash-exact cross-engine where a float
    rank average would drift. Scale: one scan → one
    partial-combining value aggregate → a value-cardinality window
    → a 1-row reduce."""
    emb = table(spark, "embeddings", sf_dir)
    n6 = F.round(
        similarity.norm(similarity.as_double_vec("embedding")) * 1000000.0
    ).cast("bigint")
    y = F.when(F.col("label") >= 5, 1).otherwise(0)
    g = (
        emb.select(n6.alias("v"), y.alias("y"))
        .groupBy("v")
        .agg(
            F.sum("y").cast("bigint").alias("p"),
            F.sum(1 - F.col("y")).cast("bigint").alias("q"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "p",
        "q",
        F.coalesce(F.sum(F.col("p") + F.col("q")).over(w), F.lit(0)).alias(
            "cum"
        ),
    )
    s = c.agg(
        F.sum("p").cast("bigint").alias("np"),
        F.sum("q").cast("bigint").alias("nq"),
        F.sum(
            F.col("p") * (2 * F.col("cum") + F.col("p") + F.col("q") + 1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        F.col("nq").alias("n_neg"),
        (F.col("r2") - F.col("np") * (F.col("np") + 1))
        .cast("bigint")
        .alias("u2"),
        F.round(
            (F.col("r2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2.0 * F.col("np").cast("double") * F.col("nq").cast("double")),
            6,
        ).alias("auc"),
    )


@q(
    "q224_source_lang_mutual_info",
    """
    WITH c AS (SELECT source, lang, COUNT(*)::BIGINT AS o
               FROM documents GROUP BY source, lang),
    rt AS (SELECT source, SUM(o)::BIGINT AS rn FROM c GROUP BY source),
    ct AS (SELECT lang, SUM(o)::BIGINT AS cn FROM c GROUP BY lang),
    nn AS (SELECT SUM(o)::BIGINT AS n FROM c),
    t AS (
        SELECT o * ROUND(ln((o::DOUBLE * n::DOUBLE)
                            / (rn::DOUBLE * cn::DOUBLE)) * 100000)
                       ::BIGINT AS term5
        FROM c JOIN rt USING (source) JOIN ct USING (lang)
        CROSS JOIN nn)
    SELECT n,
           SUM(term5)::BIGINT AS mi5_numerator,
           ROUND(SUM(term5)::DOUBLE / (n::DOUBLE * 100000.0), 6)
               AS mi_nats
    FROM t CROSS JOIN nn GROUP BY n
    """,
)
def q224_source_lang_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(source; lang) over the same contingency
    table q209 chi-squares — the information-theoretic companion:
    chi-square answers 'is the association significant', MI answers
    'how many nats does knowing the source tell you about the
    language' (0 = perfectly balanced mixture; high MI = languages
    are siloed by source, the skew a mixing plan must correct).
    Exactness: the per-cell ln((o·N)/(rn·cn)) pins to integer 1e-5
    nat units (the drift-module _ln5 convention, one libm call per
    CELL), the numerator is a BIGINT sum weighted by integer cell
    counts, and the MI is ONE IEEE division at the end — observed
    cells have o ≥ 1 so no zero-guard is needed. Scale: one
    partial-combining corpus aggregate to the (source, lang) cell
    table, then joins/aggregates over #sources·#langs-bounded
    rows."""
    docs = table(spark, "documents", sf_dir)
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rt = c.groupBy("source").agg(F.sum("o").alias("rn"))
    ct = c.groupBy("lang").agg(F.sum("o").alias("cn"))
    nn = c.agg(F.sum("o").alias("n"))
    ln5 = F.round(
        F.log(
            (F.col("o").cast("double") * F.col("n").cast("double"))
            / (F.col("rn").cast("double") * F.col("cn").cast("double"))
        )
        * 100000
    ).cast("bigint")
    t = (
        c.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .join(F.broadcast(nn), F.lit(True), "inner")
        .select((F.col("o") * ln5).alias("term5"), "n")
    )
    return t.groupBy("n").agg(
        F.sum("term5").cast("bigint").alias("mi5_numerator"),
        F.round(
            F.sum("term5").cast("double")
            / (F.col("n").cast("double") * 100000.0),
            6,
        ).alias("mi_nats"),
    ).select("n", "mi5_numerator", "mi_nats")


@q(
    "q225_integrity_audit",
    """
    SELECT 'customer_pk_dups' AS check_name,
           (SELECT COUNT(*) FROM (
                SELECT c_custkey FROM customer
                GROUP BY c_custkey HAVING COUNT(*) > 1))::BIGINT
               AS n_violations
    UNION ALL
    SELECT 'lineitem_order_orphans',
           (SELECT COUNT(*) FROM lineitem l
            WHERE l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
    UNION ALL
    SELECT 'orders_customer_orphans',
           (SELECT COUNT(*) FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
    UNION ALL
    SELECT 'orders_pk_dups',
           (SELECT COUNT(*) FROM (
                SELECT o_orderkey FROM orders
                GROUP BY o_orderkey HAVING COUNT(*) > 1))::BIGINT
    UNION ALL
    SELECT 'quantity_check',
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT (l_quantity > 0) OR l_quantity IS NULL)::BIGINT
    UNION ALL
    SELECT 'discount_range_check',
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT (l_discount >= 0 AND l_discount <= 1)
               OR l_discount IS NULL)::BIGINT
    ORDER BY check_name
    """,
)
def q225_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference DDL's constraint surface as a one-page audit
    (operators/quality.py — PK/UNIQUE dup groups, FK orphans, CHECK
    violations; the reference enforces these in SQL Server DDL,
    Spark re-expresses them as violation queries per SURVEY §1.3):
    one row per check with its violation count, zero meaning
    healthy — the post-load gate a warehouse runs after every
    commit, previously driver-invisible inside pipeline.run_etl's
    audit dict. Exactness: pure integer counts. Scale: each check is
    one partial-combining aggregate or one anti-join on the
    checked table's key — they pipeline with the load's scan; the
    final union is 6 literal-labeled 1-row frames."""
    from ..operators import quality

    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    cu = table(spark, "customer", sf_dir)

    return quality.violation_counts(
        {
            "customer_pk_dups": quality.duplicate_keys(cu, ["c_custkey"]),
            "lineitem_order_orphans": quality.fk_orphans(
                li.select(F.col("l_orderkey").alias("o_orderkey")),
                o,
                ["o_orderkey"],
            ),
            "orders_customer_orphans": quality.fk_orphans(
                o.select(F.col("o_custkey").alias("c_custkey")),
                cu,
                ["c_custkey"],
            ),
            "orders_pk_dups": quality.duplicate_keys(o, ["o_orderkey"]),
            "quantity_check": quality.check_violations(
                li, F.col("l_quantity") > 0
            ),
            "discount_range_check": quality.check_violations(
                li, (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1)
            ),
        }
    ).orderBy("check_name")


@q(
    "q226_png_decode_meta",
    """
    SELECT doc_id AS media_id,
           (3 + doc_id % 6)::INTEGER AS width,
           (5 + doc_id % 4)::INTEGER AS height,
           (doc_id % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q226_png_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, end to end — the third lib-free image
    container after PPM (q99) and BMP (q220), and the first
    COMPRESSED one: per-document payloads are synthesized as genuine
    PNGs (multimodal.synth_png — signature, IHDR, zlib-deflated
    IDAT, CRC32 on every chunk) with the per-row filter type
    rotating y % 5, then decoded back by the REAL parser
    (multimodal.decode_png_features: chunk walk + CRC verification,
    inflate, scanline unfiltering through all five
    None/Sub/Up/Average/Paeth reconstructions) via the same Arrow
    dispatch as WAV/PPM/BMP. Heights are >= 5 so EVERY payload
    exercises every filter path. The oracle predicts parsed
    dimensions and the constant fill recovered from the decoded
    channel means — a corruption anywhere in the compressed round
    trip (chunk layout, CRC, inflate, filter reconstruction,
    normalization) hash-mismatches. n_bytes is deliberately NOT
    projected: deflate output size is an implementation detail, not
    SQL-predictable arithmetic like the fixed-layout formats.
    Payload bytes never shuffle — synth and decode fuse into one
    narrow Arrow stage."""
    media = _synth_image_media(
        spark,
        sf_dir,
        lambda i: (3 + (i % 6), 5 + (i % 4), i % 256),
        multimodal.synth_png,
        "image/png",
    )
    return multimodal.decode_media_features(media).select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("feat", 1) * 255).cast("int").alias("mean_val"),
    )


@q(
    "q227_gif_decode_meta",
    """
    SELECT doc_id AS media_id,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           (doc_id % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q227_gif_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, end to end — the fourth lib-free image
    container and the first ENTROPY-CODED one: per-document payloads
    are synthesized as genuine GIF87a containers
    (multimodal.synth_gif — logical screen descriptor, global color
    table, REAL growing-dictionary LZW image data in 255-byte
    sub-blocks), then decoded back by the from-scratch parser
    (multimodal.decode_gif_features: block walk, sub-block
    reassembly, variable-width LZW expansion with CLEAR/END and
    dictionary growth, palette lookup) via the same Arrow dispatch
    as WAV/PPM/BMP/PNG. The oracle predicts parsed dimensions and
    the constant fill recovered from the decoded channel means — a
    corruption anywhere in the bit-level round trip (LSB-first code
    packing, code-width widening, palette indexing) hash-mismatches.
    n_bytes is deliberately NOT projected — LZW output size is an
    implementation detail, not fixed-layout arithmetic. Payload
    bytes never shuffle — synth and decode fuse into one narrow
    Arrow stage."""
    media = _synth_image_media(
        spark,
        sf_dir,
        lambda i: (3 + (i % 6), 2 + (i % 5), i % 256),
        multimodal.synth_gif,
        "image/gif",
    )
    return multimodal.decode_media_features(media).select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("feat", 1) * 255).cast("int").alias("mean_val"),
    )


@q(
    "q228_grouped_ols_regression",
    """
    SELECT l_returnflag,
           n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n,
                 6) AS intercept,
           ROUND(
             ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
           6) AS r2
    FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               (SUM(l_quantity::DECIMAL(28,6)))::DOUBLE AS sx,
               (SUM(l_extendedprice::DECIMAL(28,6)))::DOUBLE AS sy,
               (SUM((l_quantity*l_quantity)::DECIMAL(28,6)))::DOUBLE AS sxx,
               (SUM((l_extendedprice*l_extendedprice)::DECIMAL(28,6)))::DOUBLE
                   AS syy,
               (SUM((l_quantity*l_extendedprice)::DECIMAL(28,6)))::DOUBLE
                   AS sxy
        FROM lineitem GROUP BY l_returnflag) t
    ORDER BY l_returnflag
    """,
)
def q228_grouped_ols_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped closed-form OLS (extended price regressed on quantity
    per return flag) — the normal-equations fit every per-segment
    price model starts from, and q118's correlation moved to a full
    slope/intercept/R² readout. EXACT cross-engine parity: the five
    moment sums accumulate as DECIMAL (order-free), and
    slope/intercept/R² are then fixed chains of IEEE double ops
    rounded at 1e-6 — `regr_slope`-style float built-ins would never
    hash-match. Scale: ONE partial-combining aggregate over the fact
    table (the same single-pass moment kernel as q118/q207's
    Welch), group count bounded by flag cardinality; the fit itself
    is arithmetic on a handful of rows. The 100 TB form is
    unchanged — moments are map-side combinable no matter the row
    count."""
    li = table(spark, "lineitem", sf_dir)
    dec = "decimal(28,6)"
    # fastdec long-scaled sums for the four moments whose magnitude
    # and intrinsic granularity admit them (quantity is integral,
    # q*p is a 2dp product <= ~5e6); price**2 (~1.2e10) sits at the
    # double's 6dp precision edge and keeps the decimal cast — see
    # functions/fastdec.py for the measured contract
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        fastdec.dec_sum(F.col("l_quantity")).cast("double").alias("sx"),
        fastdec.dec_sum(F.col("l_extendedprice")).cast("double").alias("sy"),
        fastdec.dec_sum(F.col("l_quantity") * F.col("l_quantity"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast(dec))
        .cast("double")
        .alias("syy"),
        fastdec.dec_sum(F.col("l_quantity") * F.col("l_extendedprice"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - sx * slope) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("l_returnflag")


@q(
    "q229_gif_frame_extract",
    """
    SELECT doc_id AS media_id,
           f::INTEGER AS frame_idx,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           ((doc_id * 7 + 31 * f) % 256)::INTEGER AS mean_val
    FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS t(f)
    """,
)
def q229_gif_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-shaped frame extraction: per-document ANIMATED
    GIF89a containers (multimodal.synth_gif_anim — 2-4 full-coverage
    frames each, graphic-control + looping application extensions
    between image blocks) are decoded frame by frame
    (multimodal.gif_frame_features: block walk skipping the
    extensions, per-frame LZW expansion, palette lookup, per-frame
    channel means) — the container → frame stream → per-frame
    features pipeline an MP4 frame-sampling job runs, against the
    one animated container the standard library can honestly decode
    (q43's frame_sample_plan is the same plan WITHOUT a real codec;
    this query is the end-to-end proof with one). The oracle
    predicts the exact frame inventory (2 + doc_id % 3 frames) and
    each frame's fill recovered from its decoded mean — a wrong
    frame count, a swallowed extension block, or cross-frame LZW
    state bleed all hash-mismatch. Scale: synth + decode fuse into
    one narrow Arrow stage; fan-out is metadata-sized feature rows
    (≤4 per doc), payload bytes never shuffle."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_gif_anim(
                            3 + (i % 6),
                            2 + (i % 5),
                            [(i * 7 + 31 * f) % 256 for f in range(2 + i % 3)],
                        )
                        for i in ids
                    ],
                    "media_type": ["image/gif"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    return multimodal.gif_frame_features(media).select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("r") * 255).cast("int").alias("mean_val"),
    )


@q(
    "q230_dp_source_histogram",
    """
    WITH c AS (
        SELECT source, COUNT(*)::BIGINT AS n_true
        FROM documents GROUP BY source),
    h AS (
        SELECT source, n_true,
               (('0x' || substr(md5('dp-v1:' || source), 1, 8))::BIGINT
                 + 0.5) / 4294967296.0 - 0.5 AS cdev
        FROM c),
    p AS (
        SELECT source, n_true, cdev,
               ROUND(ln(1 - 2 * abs(cdev)) * 100000)::BIGINT AS ln5
        FROM h)
    SELECT source, n_true,
           (n_true
            + ROUND(-sign(cdev) * 2.0 * ln5::DOUBLE / 100000.0)::BIGINT)
               AS noisy_n
    FROM p ORDER BY source
    """,
)
def q230_dp_source_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private per-source document counts
    (ε = 0.5, Laplace b = 1/ε = 2) — the governance release form of
    q201's datasheet: what a corpus owner can publish about source
    composition without revealing whether any single document is in
    the corpus. The noise is the SEEDED deterministic Laplace
    mechanism (sampling.dp_noisy_counts): the uniform deviate is the
    module's portable md5 lottery keyed on seed+source, the
    inverse-CDF log term pins to integer 1e-5 units (q224's _ln5
    convention), and the scale/round finish is a fixed IEEE chain —
    so the release is bit-reproducible across engines (this oracle
    IS the DuckDB twin of the mechanism) and auditable, while still
    Laplace(2)-distributed across sources. Determinism is also the
    correct release discipline: re-running cannot average the noise
    away. Scale: one partial-combining count + a map-side noise
    projection on the source-bounded rows."""
    from ..operators.sampling import dp_noisy_counts

    return dp_noisy_counts(
        table(spark, "documents", sf_dir), "source", epsilon=0.5,
        seed="dp-v1",
    ).orderBy("source")


@q(
    "q231_copurchase_triangles",
    """
    WITH e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey)
    SELECT COUNT(*)::BIGINT AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
)
def q231_copurchase_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global triangle count over the part co-purchase graph (parts
    are adjacent when some order contains both) — the graph-density
    probe behind 'frequently bought together' clustering, and the
    clustering-coefficient numerator a dedup-pair-graph audit runs
    to detect transitive near-dup families (graph.triangle_count's
    contract). Spark runs the DEGREE-ORDERED ORIENTATION algorithm —
    canonical distinct edges, degrees, orient low→high (degree, id),
    count wedges at each minimum vertex closed by a third edge: each
    triangle counted exactly once with wedge fan-out bounded by
    d_out = O(√m), the construction that survives hub vertices at
    100 TB. The oracle counts the same triangles by naive ordered
    3-clique self-join (x<y<z) — algorithm-independent ground truth;
    any orientation bug (double count, dropped tie-break) mismatches
    the single BIGINT. Scale: edge gen is an order-key equi-join
    (never all-pairs), then two key-only shuffles; no adjacency list
    ever materializes on one node."""
    from ..operators.graph import cooccurrence_edges, triangle_count

    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # one groupBy-orderkey aggregation + in-row ordered pair explode —
    # the same DISTINCT least/greatest pair set the oracle's
    # self-join produces, without shuffling lineitem twice into a
    # sort-merge join (order sizes are single-digit, so the in-row
    # fan-out is bounded)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # cooccurrence_edges output is distinct (src < dst) by
    # construction — skip the triangle core's re-canonicalization
    # (a full exchange+distinct that would deduplicate nothing)
    return triangle_count(edges, assume_canonical=True)


@q(
    "q232_ngram_overlap_scores",
    """
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents),
    pairs AS (
        SELECT doc_id AS cand_id,
               LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                   AS ref_id
        FROM toks),
    p AS (SELECT cand_id, ref_id FROM pairs WHERE ref_id IS NOT NULL),
    uni AS (
        SELECT doc_id, u.tok, COUNT(*)::BIGINT AS c
        FROM toks, UNNEST(t) AS u(tok) GROUP BY doc_id, u.tok),
    bt AS (
        SELECT doc_id,
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1]) AS g
        FROM toks),
    bi AS (
        SELECT doc_id, u.tok, COUNT(*)::BIGINT AS c
        FROM bt, UNNEST(g) AS u(tok) GROUP BY doc_id, u.tok),
    u_clip AS (
        SELECT p.cand_id, SUM(LEAST(cu.c, ru.c))::BIGINT AS hit1
        FROM p
        JOIN uni cu ON cu.doc_id = p.cand_id
        JOIN uni ru ON ru.doc_id = p.ref_id AND ru.tok = cu.tok
        GROUP BY p.cand_id),
    b_clip AS (
        SELECT p.cand_id, SUM(LEAST(cb.c, rb.c))::BIGINT AS hit2
        FROM p
        JOIN bi cb ON cb.doc_id = p.cand_id
        JOIN bi rb ON rb.doc_id = p.ref_id AND rb.tok = cb.tok
        GROUP BY p.cand_id),
    lens AS (SELECT doc_id, len(t)::BIGINT AS n FROM toks)
    SELECT p.cand_id, p.ref_id,
           COALESCE(u.hit1, 0) AS hit1,
           COALESCE(b.hit2, 0) AS hit2,
           lc.n AS cand_len, lr.n AS ref_len,
           ROUND(COALESCE(u.hit1, 0)::DOUBLE / lc.n::DOUBLE, 6) AS p1,
           ROUND(COALESCE(b.hit2, 0)::DOUBLE
                 / GREATEST(lc.n - 1, 1)::DOUBLE, 6) AS p2,
           ROUND(CASE WHEN lc.n >= lr.n THEN 1.0
                      ELSE exp(1.0 - lr.n::DOUBLE / lc.n::DOUBLE) END,
                 6) AS brevity_penalty
    FROM p
    LEFT JOIN u_clip u ON u.cand_id = p.cand_id
    LEFT JOIN b_clip b ON b.cand_id = p.cand_id
    JOIN lens lc ON lc.doc_id = p.cand_id
    JOIN lens lr ON lr.doc_id = p.ref_id
    ORDER BY p.cand_id
    """,
)
def q232_ngram_overlap_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLEU-style pairwise n-gram overlap scoring — the eval-harness
    primitive for grading generated text against references at
    corpus scale (clipped unigram/bigram precision + brevity
    penalty, the public BLEU construction): each document scored
    against a deterministic reference partner (its successor within
    the source, the same LEAD pairing q96's snapshot diff uses).
    Exactness: hits are CLIPPED integer multiset intersections
    (Σ min(count_cand, count_ref) per gram — the part naive set
    intersection gets wrong on repeated grams), lengths are BIGINT,
    p1/p2 are single IEEE divisions and the brevity penalty is ONE
    exp() call, each rounded at 1e-6. Scale: tokenize once, explode
    to (doc, gram, count) postings — the same posting shape as
    q70/q153's index — then two pair-key joins; nothing is
    quadratic in corpus size (each doc meets exactly one reference)
    and the gram joins shuffle posting rows, never documents."""
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
        )
        .where(F.col("ref_id").isNotNull())
    )
    uni = (
        docs.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) < 2 THEN array() "
                    "ELSE transform(sequence(0, size(t) - 2), "
                    "i -> concat_ws(' ', t[i], t[i+1])) END"
                )
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def clipped(grams: DataFrame, out: str) -> DataFrame:
        cu = grams.select(
            F.col("doc_id").alias("cand_id"),
            "tok",
            F.col("c").alias("cc"),
        )
        ru = grams.select(
            F.col("doc_id").alias("ref_id"),
            "tok",
            F.col("c").alias("rc"),
        )
        return (
            pairs.join(cu, "cand_id")
            .join(ru, ["ref_id", "tok"])
            .groupBy("cand_id")
            .agg(F.sum(F.least("cc", "rc")).cast("bigint").alias(out))
        )
    lens = docs.select("doc_id", F.size("t").cast("bigint").alias("n"))
    out = (
        pairs.join(clipped(uni, "hit1"), "cand_id", "left")
        .join(clipped(bi, "hit2"), "cand_id", "left")
        .join(lens.withColumnRenamed("doc_id", "cand_id")
                  .withColumnRenamed("n", "cand_len"), "cand_id")
        .join(lens.withColumnRenamed("doc_id", "ref_id")
                  .withColumnRenamed("n", "ref_len"), "ref_id")
    )
    hit1 = F.coalesce(F.col("hit1"), F.lit(0).cast("bigint"))
    hit2 = F.coalesce(F.col("hit2"), F.lit(0).cast("bigint"))
    bp = F.when(
        F.col("cand_len") >= F.col("ref_len"), F.lit(1.0)
    ).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("ref_len").cast("double")
            / F.col("cand_len").cast("double")
        )
    )
    return out.select(
        "cand_id",
        "ref_id",
        hit1.alias("hit1"),
        hit2.alias("hit2"),
        "cand_len",
        "ref_len",
        F.round(
            hit1.cast("double") / F.col("cand_len").cast("double"), 6
        ).alias("p1"),
        F.round(
            hit2.cast("double")
            / F.greatest(F.col("cand_len") - 1, F.lit(1)).cast("double"),
            6,
        ).alias("p2"),
        F.round(bp, 6).alias("brevity_penalty"),
    ).orderBy("cand_id")


@q(
    "q233_pareto_frontier",
    """
    WITH pts AS (
        SELECT DISTINCT p_retailprice AS price, p_size AS size
        FROM part
        WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
    SELECT price, size
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts o
        WHERE o.price <= p.price AND o.size >= p.size
          AND (o.price < p.price OR o.size > p.size))
    ORDER BY price, size
    """,
)
def q233_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) over distinct part
    (price, size) points — cheapest-for-the-size procurement
    candidates, the classic skyline query. The oracle is the naive
    O(n²) NOT-EXISTS dominance test; Spark runs the O(n log n)
    sort-scan instead: order by (price ASC, size DESC) — every
    earlier point then has price ≤ current — and a point survives
    iff the running max of size over STRICTLY PRECEDING rows is
    below its own size (equal size earlier implies strictly cheaper
    price on distinct points, i.e. dominated; larger implies
    dominated outright). ONE window pass over the deduped point set
    replaces the quadratic self-join — the standard skyline
    sweep-line, and the plan shape that survives 100 TB fact tables
    (the window input is the DISTINCT point projection, bounded by
    value cardinality, not row count; at extreme point cardinality
    swap in the angular-partition skyline, same sweep per
    partition + a frontier merge).

    Null contract (round-11 null adversary): a point with a missing
    coordinate has no defined dominance relation — SQL's NOT-EXISTS
    would put EVERY null-size point on the frontier (all its
    comparisons are UNKNOWN) while the sweep-line would drop them,
    so both sides EXCLUDE null-coordinate points explicitly."""
    pts = (
        table(spark, "part", sf_dir)
        .where(
            F.col("p_retailprice").isNotNull()
            & F.col("p_size").isNotNull()
        )
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        )
        .distinct()
    )
    w = (
        Window.orderBy(F.asc("price"), F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("prev_max", F.max("size").over(w))
        .where(
            F.col("prev_max").isNull()
            | (F.col("prev_max") < F.col("size"))
        )
        .select("price", "size")
        .orderBy("price", "size")
    )


def q234_mmr_diversified_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR-diversified retrieval serving: the exact cosine shortlist
    (q36's contract-bounded query set, 30 candidates each) re-ranked
    by Maximal Marginal Relevance (λ=0.7, k=10) so near-duplicate
    passages stop crowding the context window — the
    diversification stage between ANN search (q36/q42/q115) and
    context assembly, completing the retrieval serving stack
    (postings → BM25 → RRF → MMR). Rows-only BY DESIGN: the greedy
    argmax chains float multiplications no ANSI SQL replays, but the
    selection itself is deterministic (1e-6-pinned integer
    relevance/similarity, id tie-breaks) and
    test_retrieval.py::test_mmr_matches_python_replica re-derives it
    exactly with an independent pure-Python greedy. Scale: shortlist
    rows only ever shuffle; the per-query quadratic term is bounded
    by the 30-candidate contract."""
    from ..operators.retrieval import mmr_rerank

    emb = table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    shortlist = similarity.brute_force_topk(emb, queries, k=30)
    cands = shortlist.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            similarity.as_double_vec("embedding").alias("emb"),
        ),
        "neighbor_id",
    )
    return mmr_rerank(cands, k=10, lam=0.7).orderBy(
        "query_id", "mmr_rank"
    )


QUERIES["q234_mmr_diversified_topk"] = q234_mmr_diversified_topk


@q(
    "q235_ulaw_decode_meta",
    """
    WITH m AS (
        SELECT doc_id,
               (100 + doc_id % 50)::BIGINT AS n,
               xor(doc_id % 256, 255) AS inv
        FROM documents),
    d AS (
        SELECT doc_id, n,
               ((((inv & 15) * 8 + 132) * (1 << ((inv // 16) & 7)))
                 - 132)::BIGINT AS mag
        FROM m)
    SELECT doc_id AS media_id,
           n AS n_samples,
           n::INTEGER AS duration_ms,
           ROUND(mag::DOUBLE / 32124.0 * 1000000)::BIGINT AS rms6,
           0::BIGINT AS zcr6
    FROM d
    """,
)
def q235_ulaw_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-AUDIO decode, end to end — G.711 μ-law, the
    lib-free companded codec (the telephony standard; MP3 stays
    documented-out, but μ-law is an honest entropy-reducing encode
    the stdlib + numpy can fully decode): per-document payloads are
    genuine RIFF/WAVE containers with format code 7
    (multimodal.synth_ulaw_wav), decoded by the manual RIFF chunk
    walk + ITU-T expansion table
    (multimodal.decode_ulaw_features — complement, 3-bit exponent /
    4-bit mantissa, bias 0x84, ±32124 full scale) through the same
    Arrow dispatch as WAV/PPM/BMP/PNG/GIF. The oracle re-derives the
    expansion ARITHMETICALLY in SQL (xor/mask/shift on the codeword)
    and predicts the clip RMS to 1e-6 — a wrong complement, biased
    mantissa, or mis-shifted exponent anywhere in the table
    mismatches every row. Constant codewords make RMS = |decode(B)|
    exactly and pin ZCR to 0 (sign never flips). sample_rate 1000 Hz
    keeps duration_ms = n_samples with no rounding seam. Payload
    bytes never shuffle — one narrow Arrow stage."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_ulaw_wav(
                            int(i) % 256, 1000, 100 + int(i) % 50
                        )
                        for i in ids
                    ],
                    "media_type": ["audio/ulaw"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    return multimodal.decode_media_features(media).select(
        "media_id",
        "n_samples",
        "duration_ms",
        F.round(F.element_at("feat", 1) * 1000000)
        .cast("bigint")
        .alias("rms6"),
        F.round(F.element_at("feat", 2) * 1000000)
        .cast("bigint")
        .alias("zcr6"),
    )


@q(
    "q236_mp4_container_meta",
    """
    SELECT doc_id AS media_id,
           (1000 + (doc_id % 97) * 33)::INTEGER AS duration_ms,
           CASE WHEN doc_id % 3 = 0 THEN NULL
                ELSE (160 + 16 * (doc_id % 8))::INTEGER END AS width,
           CASE WHEN doc_id % 3 = 0 THEN NULL
                ELSE (90 + 9 * (doc_id % 8))::INTEGER END AS height,
           CASE WHEN doc_id % 3 = 0 THEN 'mp4a' ELSE 'avc1' END AS codec,
           1::BIGINT AS n_tracks
    FROM documents
    """,
)
def q236_mp4_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 (ISO BMFF) container-metadata census — the video
    lake's survey plane, now against GENUINE box trees: per-document
    payloads are synthesized as real ftyp/moov/trak/mdia/minf/stbl/
    stsd/mdat containers (multimodal.synth_mp4; every box size
    real), then parsed back by the box-tree walker
    (multimodal.parse_mp4_meta — 32/64-bit sizes, fullbox versions,
    mvhd timescale→duration arithmetic, tkhd 16.16 fixed-point
    dimensions, stsd sample-entry fourcc). Video tracks (avc1) carry
    dimensions; audio tracks (mp4a, every third doc) carry none —
    the NULL pattern is part of the attestation. Timescale varies
    per doc (1000/90000/48000 by doc_id%3) so the duration
    round-trip exercises non-trivial rescaling; durations are chosen
    divisible cleanly via the ms→ticks→ms integer floor chain only
    when exact, so the oracle's closed form holds for every row.
    Frame DECODE stays behind the documented codec seam — this
    attests the container layer, which is what metadata censuses,
    corrupt-file triage, and partition planning actually read.
    Payload bytes never shuffle."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        scales = {0: 1000, 1: 90000, 2: 48000}
        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                i = int(i)
                dur = 1000 + (i % 97) * 33
                if i % 3 == 0:
                    payloads.append(
                        multimodal.synth_mp4(dur, scales[i % 3], 0, 0, b"mp4a")
                    )
                else:
                    payloads.append(
                        multimodal.synth_mp4(
                            dur,
                            scales[i % 3],
                            160 + 16 * (i % 8),
                            90 + 9 * (i % 8),
                            b"avc1",
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": ["video/mp4"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)

    def meta(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                m = multimodal.parse_mp4_meta(bytes(payload))
                rows.append(
                    {
                        "media_id": mid,
                        "duration_ms": m["duration_ms"],
                        "width": m["width"],
                        "height": m["height"],
                        "codec": m["codecs"][0] if m["codecs"] else None,
                        "n_tracks": m["n_tracks"],
                    }
                )
            out = pd.DataFrame(rows)
            out["duration_ms"] = pd.array(out["duration_ms"], dtype="Int32")
            out["width"] = pd.array(out["width"], dtype="Int32")
            out["height"] = pd.array(out["height"], dtype="Int32")
            yield out

    return media.mapInPandas(
        meta,
        "media_id long, duration_ms int, width int, height int, "
        "codec string, n_tracks bigint",
    )


@q(
    "q237_jpeg_decode_meta",
    """
    SELECT doc_id AS media_id,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           ((doc_id * 2) % 256)::INTEGER AS mean_val
    FROM documents
    """,
)
def q237_jpeg_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, end to end — the hard codec seam
    CLOSED: per-document payloads are genuine JFIF containers
    written by the from-scratch T.81 encoder (operators/jpeg.py:
    RGB→YCbCr, orthonormal FDCT, Annex-K quantization, zigzag, DC
    differencing, canonical Annex-K Huffman, byte stuffing), decoded
    back by the from-scratch decoder (marker walk, Huffman table
    reconstruction, bit reader with 0xFF00 unstuffing, run-length AC
    with ZRL/EOB, dequantize, IDCT, YCbCr→RGB) via the same Arrow
    dispatch as the other six real kernels. Exactness through a
    LOSSY pipeline: the fill value is EVEN, so the only nonzero
    coefficient is DC = 8·(v−128), which Annex-K Q[0,0]=16 divides —
    quantize→dequantize→IDCT reproduces v bit-exactly and the oracle
    predicts the decoded mean as a closed form. A corruption
    anywhere (wrong zigzag, off-by-one Huffman code, mis-normalized
    DCT, bad stuffing) lands on every row. Payload bytes never
    shuffle — one narrow Arrow stage."""
    import pandas as pd

    from ..operators import jpeg
    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        jpeg.synth_jpeg(
                            3 + int(i) % 6, 2 + int(i) % 5, (int(i) * 2) % 256
                        )
                        for i in ids
                    ],
                    "media_type": ["image/jpeg"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    return multimodal.decode_media_features(media).select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("feat", 1) * 255).cast("int").alias("mean_val"),
    )


_HTML_PRE = (
    "<html><head><title>Doc {i}</title><style>p {{color: red;}}"
    "</style><script>var x = 1; if (x<2) {{ x = x+1; }}</script>"
    "</head><body><h1>Doc {i}</h1><!-- boilerplate chrome -->"
    "<p>{t}</p><a href=\"/d/{i}\">link</a> &amp; "
    "<a href=\"/x\">more</a></body></html>"
)


@q(
    "q238_html_boilerplate_extract",
    """
    WITH pages AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || doc_id
               || '</title><style>p {color: red;}</style>'
               || '<script>var x = 1; if (x<2) { x = x+1; }</script>'
               || '</head><body><h1>Doc ' || doc_id
               || '</h1><!-- boilerplate chrome --><p>' || text
               || '</p><a href="/d/' || doc_id
               || '">link</a> &amp; <a href="/x">more</a></body></html>'
                   AS html,
               text
        FROM documents)
    SELECT doc_id,
           'Doc ' || doc_id AS page_title,
           TRIM(regexp_replace(
               'Doc ' || doc_id || ' ' || text || ' link & more',
               '\\s+', ' ', 'g')) AS page_text,
           2::BIGINT AS n_links,
           len(regexp_extract_all(html, '<[^>]+>'))::BIGINT AS n_tags,
           ROUND(
               len(TRIM(regexp_replace(
                   'Doc ' || doc_id || ' ' || text || ' link & more',
                   '\\s+', ' ', 'g')))::DOUBLE
               / GREATEST(len(html), 1)::DOUBLE, 6) AS text_ratio
    FROM pages
    """,
)
def q238_html_boilerplate_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HTML boilerplate removal over a rendered crawl page — the
    stage-zero operator of every web-corpus curation chain, run
    against deterministic page templating so the oracle can predict
    the INVERSION in closed form: each document is wrapped in a full
    page (title, style block, script block whose body contains a
    bare '<' to trap naive tag-strippers, comment chrome, two
    anchors, an &amp; entity), then textstats.html_extract must
    recover exactly the visible text ('Doc i <text> link & more' —
    the whole <head> block, title included, is non-rendered chrome), the title, the anchor count, and the markup density —
    all JVM-side regexp/replace chains (engine-portable: no
    backreferences, so DuckDB's RE2 agrees with Spark's Java regex
    byte for byte). A regression anywhere (script body leaking into
    text, entity decode order turning '&amp;lt;' into '<', eager
    '<[^>]+>' over-stripping) mismatches every row. Scale: narrow
    codegen projection, no shuffle, no Python."""
    from ..operators.textstats import html_extract

    docs = table(spark, "documents", sf_dir)
    i = F.col("doc_id").cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "), i,
            F.lit("</title><style>p {color: red;}</style>"
                  "<script>var x = 1; if (x<2) { x = x+1; }</script>"
                  "</head><body><h1>Doc "), i,
            F.lit("</h1><!-- boilerplate chrome --><p>"),
            F.col("text"),
            F.lit("</p><a href=\"/d/"), i,
            F.lit("\">link</a> &amp; <a href=\"/x\">more</a>"
                  "</body></html>"),
        ).alias("html"),
    )
    out = html_extract(pages, "html", out_prefix="page_")
    return out.select(
        "doc_id",
        F.col("page_title"),
        F.col("page_text"),
        F.col("page_n_links").alias("n_links"),
        F.col("page_n_tags").alias("n_tags"),
        F.col("page_text_ratio").alias("text_ratio"),
    )


@q(
    "q239_spearman_correlation",
    """
    WITH r AS (
        SELECT l_returnflag,
               2 * RANK() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                 - 1 AS rx2,
               2 * RANK() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice)
                 + COUNT(*) OVER (PARTITION BY l_returnflag,
                                  l_extendedprice)
                 - 1 AS ry2
        FROM lineitem),
    m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               (SUM(rx2::DECIMAL(28,0)))::DOUBLE AS sx,
               (SUM(ry2::DECIMAL(28,0)))::DOUBLE AS sy,
               (SUM((rx2*rx2)::DECIMAL(38,0)))::DOUBLE AS sxx,
               (SUM((ry2*ry2)::DECIMAL(38,0)))::DOUBLE AS syy,
               (SUM((rx2*ry2)::DECIMAL(38,0)))::DOUBLE AS sxy
        FROM r GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS spearman_rho
    FROM m ORDER BY l_returnflag
    """,
)
def q239_spearman_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped Spearman rank correlation (quantity vs extended price
    per return flag) — the robust companion to q118's Pearson: rank
    first, correlate the ranks, immune to monotone transforms and
    outliers (the reason data-quality audits prefer it on heavy-
    tailed columns). EXACT cross-engine parity via DOUBLED average
    ranks: the tie-averaged rank (min_rank + (ties−1)/2) is a half-
    integer, so 2·avg_rank = 2·RANK() + COUNT(ties) − 1 is a BIGINT
    on both engines, the five moments accumulate as DECIMAL
    (order-free, scale-invariant: the ½ factors cancel in the
    correlation), and the finish is the same fixed IEEE chain as
    q118/q228 rounded at 1e-6. Scale: the naive plan is two
    ``Window.partitionBy(l_returnflag)`` ranks — parallelism capped
    at |flags| = 3 tasks (the r8 50× sweep pinned that plan at
    α=0.843, the table's second-highest). This plan instead observes
    that the doubled rank is a function of (group, value) alone
    (2·cnt_lt + cnt_eq + 1) and every moment is a weighted sum over
    the (group, qty, price) contingency table: one hash aggregate
    builds the table (full parallelism), `grouped_doubled_ranks`
    computes both rank maps via the q58/q195 range-partition +
    per-partition-offset pattern (parallelism nparts·|groups|, only
    distinct values ever shuffle), two equi-joins attach the ranks,
    and one partial-combining aggregate finishes. Bit-identical
    BIGINT ranks and decimal-exact sums, so the oracle still
    hash-matches."""
    from ..operators.groupstats import grouped_doubled_ranks

    li = table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    # The contingency table feeds BOTH per-variable marginals AND the
    # final moment join — without the eager checkpoint its subtree
    # (a full lineitem scan + aggregate) appeared three times in the
    # plan (5 parquet scans total, no ReusedExchange fired); the
    # checkpointed table is distinct-(flag, qty, price)-bounded,
    # orders of magnitude under the fact rows (optimization round
    # 12, guide §3.3 materialize shared intermediates).
    gqp = (
        li.groupBy("l_returnflag", "l_quantity", "l_extendedprice")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt3"))
        .localCheckpoint()
    )
    cq = gqp.groupBy("l_returnflag", "l_quantity").agg(
        F.sum("cnt3").cast("long").alias("cnt")
    )
    cp = gqp.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("cnt3").cast("long").alias("cnt")
    )
    # ONE fused rank pass over both variables (union-tagged group
    # key) instead of two repartitionByRange + window sweeps; the
    # checkpoint stops the two join branches from re-running the
    # rank machinery. Ranks are bit-identical to the per-variable
    # calls: the doubled rank is a function of (group, value) alone
    # and __var separates the variables inside the group key.
    tag = grouped_doubled_ranks(
        cq.select(
            "l_returnflag",
            F.lit("q").alias("__var"),
            F.col("l_quantity").alias("__val"),
            "cnt",
        ).unionByName(
            cp.select(
                "l_returnflag",
                F.lit("p").alias("__var"),
                F.col("l_extendedprice").alias("__val"),
                "cnt",
            )
        ),
        ["l_returnflag", "__var"],
        "__val",
        "cnt",
        out_col="r2",
    ).localCheckpoint()
    rq = tag.where(F.col("__var") == "q").select(
        "l_returnflag",
        F.col("__val").alias("l_quantity"),
        F.col("r2").alias("rx2"),
    )
    rp = tag.where(F.col("__var") == "p").select(
        "l_returnflag",
        F.col("__val").alias("l_extendedprice"),
        F.col("r2").alias("ry2"),
    )
    joined = gqp.join(rq, ["l_returnflag", "l_quantity"]).join(
        rp, ["l_returnflag", "l_extendedprice"]
    )
    d0 = "decimal(28,0)"
    d1 = "decimal(38,0)"
    c3 = F.col("cnt3")
    m = joined.groupBy("l_returnflag").agg(
        F.sum("cnt3").alias("n"),
        F.sum(c3.cast(d0) * F.col("rx2")).cast("double").alias("sx"),
        F.sum(c3.cast(d0) * F.col("ry2")).cast("double").alias("sy"),
        F.sum(c3.cast(d1) * F.col("rx2") * F.col("rx2"))
        .cast("double")
        .alias("sxx"),
        F.sum(c3.cast(d1) * F.col("ry2") * F.col("ry2"))
        .cast("double")
        .alias("syy"),
        F.sum(c3.cast(d1) * F.col("rx2") * F.col("ry2"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    rho = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx)
        * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return m.select(
        "l_returnflag", "n", F.round(rho, 6).alias("spearman_rho")
    ).orderBy("l_returnflag")


@q(
    "q240_benford_audit",
    """
    WITH cents AS (
        SELECT ROUND(l_extendedprice * 100)::BIGINT AS c
        FROM lineitem WHERE l_extendedprice > 0),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
            AS leading_digit
        FROM cents),
    obs AS (
        SELECT leading_digit, COUNT(*)::BIGINT AS n
        FROM digits GROUP BY leading_digit),
    tot AS (SELECT SUM(n)::BIGINT AS total FROM obs)
    SELECT leading_digit, n,
           ROUND(n::DOUBLE / total::DOUBLE, 6) AS observed_p,
           ROUND(ln(1.0 + 1.0 / leading_digit) / ln(10.0), 6)
               AS benford_p,
           ROUND(n::DOUBLE / total::DOUBLE
                 - ln(1.0 + 1.0 / leading_digit) / ln(10.0), 6)
               AS deviation
    FROM obs CROSS JOIN tot
    ORDER BY leading_digit
    """,
)
def q240_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over extended price —
    the classic fabricated-data / synthetic-artifact detector a
    corpus-governance pass runs on every numeric fact column (real
    transaction amounts follow log(1+1/d); generator artifacts and
    injected rows don't). Exactness: the leading digit is extracted
    through INTEGER CENTS (ROUND(x·100) → BIGINT → first character
    of the locale-free integer string), never through
    floor(log10(x)) whose ULP wobble at decade boundaries would
    break cross-engine hashing; observed shares are one IEEE
    division and the Benford reference is a fixed two-libm chain,
    both rounded at 1e-6. Scale: map-side digit projection, one
    9-row aggregate, a 1-row broadcast total — pipeline-fused with
    the scan."""
    li = table(spark, "lineitem", sf_dir)
    cents = li.where(F.col("l_extendedprice") > 0).select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("int")
        .alias("leading_digit")
    )
    obs = digits.groupBy("leading_digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # unpartitioned window over the ≤9-digit aggregate rows (the
    # documented bounded-window pattern) — NOT a second fact scan
    tot = obs.withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )
    benford = F.log(1.0 + 1.0 / F.col("leading_digit")) / F.log(F.lit(10.0))
    p = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        tot
        .select(
            "leading_digit",
            "n",
            F.round(p, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(p - benford, 6).alias("deviation"),
        )
        .orderBy("leading_digit")
    )


@q(
    "q241_retrieval_eval_metrics",
    """
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ve
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, ve AS qv
          FROM v WHERE vec_id < 10),
    ranked AS (
        SELECT query_id, qlabel, neighbor_id, nlabel, rank FROM (
            SELECT q.query_id, q.qlabel, v.vec_id AS neighbor_id,
                   v.label AS nlabel,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(qv, ve) DESC,
                                v.vec_id) AS rank
            FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id) t
        WHERE rank <= 10),
    nrel AS (
        SELECT q.query_id,
               (SELECT COUNT(*) FROM v
                WHERE v.label = q.qlabel
                  AND v.vec_id <> q.query_id) AS n_rel_total
        FROM q),
    hits AS (
        SELECT query_id,
               COUNT(*) FILTER (WHERE nlabel = qlabel)::BIGINT
                   AS n_rel_at_10,
               MIN(rank) FILTER (WHERE nlabel = qlabel) AS first_rel,
               SUM(CASE WHEN nlabel = qlabel
                        THEN ROUND(1000000000.0 / log2(rank + 1))::BIGINT
                        ELSE 0 END) AS dcg9
        FROM ranked GROUP BY query_id),
    ideal AS (
        SELECT n.query_id,
               SUM(ROUND(1000000000.0 / log2(r + 1))::BIGINT) AS idcg9
        FROM nrel n, UNNEST(range(1, 1 + LEAST(n.n_rel_total, 10)))
            AS t(r)
        GROUP BY n.query_id)
    SELECT h.query_id,
           h.n_rel_at_10,
           ROUND(COALESCE(1.0 / h.first_rel, 0.0), 6) AS mrr,
           ROUND(h.n_rel_at_10::DOUBLE
                 / GREATEST(LEAST(n.n_rel_total, 10), 1)::DOUBLE, 6)
               AS recall_at_10,
           ROUND(h.dcg9::DOUBLE / GREATEST(i.idcg9, 1)::DOUBLE, 6)
               AS ndcg_at_10
    FROM hits h
    JOIN nrel n USING (query_id)
    JOIN ideal i USING (query_id)
    ORDER BY query_id
    """,
)
def q241_retrieval_eval_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval evaluation metrics — MRR, recall@10, nDCG@10 per
    query over the exact cosine ranking with label-match relevance
    (the embeddings table's label IS the qrel): the scorecard every
    retrieval stack change (BM25 weights, ANN recall, RRF, MMR) is
    judged against. Exactness across engines: the ranking is q36's
    fully tie-broken contract; DCG terms pin per-position to integer
    1e-9 units (ROUND(1e9/log2(rank+1)) — one libm call per HIT, the
    _ln5 convention at higher precision because discounts get
    summed), so DCG and ideal-DCG are BIGINT sums and nDCG is ONE
    IEEE division rounded at 1e-6; MRR and recall are single
    divisions. Scale: ranking cost is the bounded-query brute-force
    contract (swap the ANN path in deployment); metrics are
    10-rows-per-query aggregates; the ideal-DCG table is |queries|
    x <=10 generated rows."""
    emb = table(spark, "embeddings", sf_dir)
    v = emb.select("vec_id", "label", "embedding")
    queries = v.where(F.col("vec_id") < 10)
    topk = similarity.brute_force_topk(v, queries, k=10)
    ranked = (
        topk.join(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            v.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
    )
    rel = F.col("nlabel") == F.col("qlabel")
    dcg_term = F.when(
        rel,
        F.round(
            F.lit(1000000000.0) / F.log2(F.col("rank") + 1)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    hits = ranked.groupBy("query_id").agg(
        F.sum(rel.cast("bigint")).cast("bigint").alias("n_rel_at_10"),
        F.min(F.when(rel, F.col("rank"))).alias("first_rel"),
        F.sum(dcg_term).alias("dcg9"),
    )
    nrel = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
        )
        .join(
            v.groupBy("label").agg(
                F.count(F.lit(1)).alias("n_label")
            ),
            F.col("qlabel") == F.col("label"),
        )
        .select(
            "query_id",
            (F.col("n_label") - 1).alias("n_rel_total"),
        )
    )
    ideal = nrel.select(
        "query_id",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.col("n_rel_total"), F.lit(10))
            )
        ).alias("r"),
    ).groupBy("query_id").agg(
        F.sum(
            F.round(
                F.lit(1000000000.0) / F.log2(F.col("r") + 1)
            ).cast("bigint")
        ).alias("idcg9")
    )
    return (
        hits.join(nrel, "query_id")
        .join(ideal, "query_id")
        .select(
            "query_id",
            "n_rel_at_10",
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rel"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.col("n_rel_at_10").cast("double")
                / F.greatest(
                    F.least(F.col("n_rel_total"), F.lit(10)), F.lit(1)
                ).cast("double"),
                6,
            ).alias("recall_at_10"),
            F.round(
                F.col("dcg9").cast("double")
                / F.greatest(F.col("idcg9"), F.lit(1)).cast("double"),
                6,
            ).alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


@q(
    "q242_mp3_frame_census",
    """
    WITH m AS (
        SELECT doc_id,
               (5 + doc_id % 20)::BIGINT AS n_frames,
               CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    ELSE 32000 END AS rate,
               CASE doc_id % 4 WHEN 0 THEN 128 WHEN 1 THEN 64
                    WHEN 2 THEN 192 ELSE 320 END AS kbps
        FROM documents)
    SELECT doc_id AS media_id,
           rate::INTEGER AS sample_rate,
           (n_frames * 1152)::BIGINT AS n_samples,
           (n_frames * 1152 * 1000 // rate)::INTEGER AS duration_ms,
           n_frames,
           (144 * kbps * 1000 // rate)::BIGINT AS frame_len
    FROM m
    """,
)
def q242_mp3_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 frame-header census — the metadata plane for the
    last audio codec seam (the polyphase filterbank stays the
    documented stub; duration/bitrate census, corrupt-stream triage,
    and partition planning only need THIS): per-document payloads
    are genuine MPEG-1 Layer III frame sequences
    (multimodal.synth_mp3 — spec-correct sync words, version/layer/
    bitrate-index/sample-rate-index headers, 144·br/sr frame-length
    arithmetic, every third doc behind an ID3v2 tag with a syncsafe
    size), walked back by the REAL sync parser
    (multimodal.parse_mp3_frames). The oracle predicts the frame
    inventory, per-frame byte length, and the 1152-samples-per-frame
    duration arithmetic in closed form — a mis-read bitrate table or
    an off-by-one frame hop desyncs every following frame and
    mismatches the row. Payload bytes never shuffle."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        rates = {0: 44100, 1: 48000, 2: 32000}
        kbps = {0: 128, 1: 64, 2: 192, 3: 320}
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_mp3(
                            5 + int(i) % 20,
                            kbps[int(i) % 4],
                            rates[int(i) % 3],
                            with_id3=(int(i) % 3 == 0),
                        )
                        for i in ids
                    ],
                    "media_type": ["audio/mpeg"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    dec = multimodal.decode_media_features(media)
    return dec.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        F.element_at("feat", 1).cast("bigint").alias("n_frames"),
        F.round(F.element_at("feat", 2)).cast("bigint").alias("frame_len"),
    )


@q(
    "q243_mixed_media_census",
    """
    WITH m AS (
        SELECT doc_id,
               CASE doc_id % 9
                    WHEN 0 THEN 'audio/wav'    WHEN 1 THEN 'audio/ulaw'
                    WHEN 2 THEN 'image/ppm'    WHEN 3 THEN 'image/pgm'
                    WHEN 4 THEN 'image/bmp'    WHEN 5 THEN 'image/png'
                    WHEN 6 THEN 'image/gif'    WHEN 7 THEN 'image/jpeg'
                    ELSE 'audio/mpeg' END AS media_type,
               doc_id % 9 IN (2, 3, 4, 5, 6, 7) AS is_image
        FROM documents)
    SELECT media_type,
           COUNT(*)::BIGINT AS n_media,
           0::BIGINT AS n_errors,
           CASE WHEN is_image
                THEN (SELECT SUM(4 + x.doc_id % 5)
                      FROM m x WHERE x.media_type = m.media_type)
                ELSE NULL END::BIGINT AS total_height,
           CASE WHEN NOT is_image
                THEN (SELECT SUM(CASE x.doc_id % 9
                          WHEN 0 THEN 100
                          WHEN 1 THEN 100 + x.doc_id % 50
                          ELSE (5 + x.doc_id % 20) * 1152 * 1000 // 44100
                          END)
                      FROM m x WHERE x.media_type = m.media_type)
                ELSE NULL END::BIGINT AS total_duration_ms
    FROM m
    GROUP BY media_type, is_image
    ORDER BY media_type
    """,
)
def q243_mixed_media_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified multimodal plane, end to end: ONE media table
    carrying all nine REAL containers (WAV, μ-law, PPM, PGM, BMP,
    PNG, GIF, JPEG, MP3 — modality assigned by doc_id % 9, every
    payload a genuine synthesized container) flows through the ONE
    Arrow decode dispatch and reduces to the per-type census a media
    lake's intake dashboard shows: volume, decode-error count (zero
    here — every container is well-formed, and the oracle pins
    that), and the modality-appropriate rollup (image height mass /
    audio duration mass). The oracle predicts every cell in closed
    form from the synth parameters — this is the integration
    attestation that the per-format gates (q94/q99/q220/q226/q227/
    q235/q237/q242) compose: one dispatch, heterogeneous payloads,
    per-row error isolation, no payload shuffle (only the census
    aggregate moves)."""
    import pandas as pd

    from ..operators import jpeg
    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth_one(i: int):
        m = i % 9
        w, h, v = 3 + i % 6, 4 + i % 5, (i * 2) % 256
        if m == 0:
            return "audio/wav", multimodal.synth_wav(
                200.0, 1000, 100
            )
        if m == 1:
            return "audio/ulaw", multimodal.synth_ulaw_wav(
                i % 256, 1000, 100 + i % 50
            )
        if m == 2:
            return "image/ppm", multimodal.synth_ppm(w, h, v)
        if m == 3:
            return "image/pgm", multimodal.synth_pgm(w, h, v)
        if m == 4:
            return "image/bmp", multimodal.synth_bmp(w, h, v)
        if m == 5:
            return "image/png", multimodal.synth_png(w, h, v)
        if m == 6:
            return "image/gif", multimodal.synth_gif(w, h, v)
        if m == 7:
            return "image/jpeg", jpeg.synth_jpeg(w, h, v)
        return "audio/mpeg", multimodal.synth_mp3(5 + i % 20)

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            types, payloads = [], []
            for i in ids:
                t, p = synth_one(int(i))
                types.append(t)
                payloads.append(p)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": types,
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    dec = multimodal.decode_media_features(media)
    return (
        dec.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.sum(
                F.col("decode_error").isNotNull().cast("bigint")
            ).alias("n_errors"),
            F.sum("height").cast("bigint").alias("total_height"),
            F.sum("duration_ms").cast("bigint").alias("total_duration_ms"),
        )
        .orderBy("media_type")
    )


def _materialized_dp_partials(spark: SparkSession, sf_dir: str) -> str:
    """Stream (once per process per sf_dir) the per-source count
    partials for the DP release into the ``sg_dp_lake_`` temp dir of
    :func:`_temp_lake`: the whole documents table lands as a 3-file
    source read with maxFilesPerTrigger=1 — ≥2 real micro-batches,
    so the snapshot attests merge-across-batches."""
    import os

    from ..streaming.incremental import streaming_value_count_partials

    def build(base: str) -> None:
        src = os.path.join(base, "rows")
        table(spark, "documents", sf_dir).select(
            "doc_id", "source"
        ).repartition(3).write.parquet(src)
        streaming_value_count_partials(
            spark.readStream.schema("doc_id long, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            os.path.join(base, "partials"),
            os.path.join(base, "ckpt"),
            "source",
        ).awaitTermination(300)

    return os.path.join(_temp_lake("dp_lake", sf_dir, build), "partials")


@q("q244_streaming_dp_snapshot", None)
def q244_streaming_dp_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q230's ε-DP source-count release served from STREAMED
    partials (streaming/incremental.py:dp_release_snapshot): the
    real Structured Streaming writer lands per-micro-batch
    value-count partials, the snapshot sums them and applies the
    seeded Laplace noise. Oracled with q230's SQL VERBATIM — the
    driver row attests the privacy plane's partials-lake invariant:
    noise is a pure function of (seed, source), so the streaming
    release is bit-identical to the batch mechanism no matter how
    the stream was sliced (re-slicing must never re-roll the noise).
    Extends the q212-q214 streaming-equivalence triad to a fourth
    kernel family."""
    from ..streaming.incremental import dp_release_snapshot

    return dp_release_snapshot(
        spark, _materialized_dp_partials(spark, sf_dir), epsilon=0.5,
        seed="dp-v1",
    ).orderBy("source")


ORACLES["q244_streaming_dp_snapshot"] = ORACLES["q230_dp_source_histogram"]


@q(
    "q245_bootstrap_mean_ci",
    """
    WITH w AS (
        SELECT t.b,
               CASE
                 WHEN u < 0.3678794411714423 THEN 0
                 WHEN u < 0.7357588823428846 THEN 1
                 WHEN u < 0.9196986029286058 THEN 2
                 WHEN u < 0.9810118431238462 THEN 3
                 WHEN u < 0.9963401531726563 THEN 4
                 WHEN u < 0.9994058151824183 THEN 5
                 WHEN u < 0.9999167588507119 THEN 6
                 WHEN u < 0.9999897508033253 THEN 7
                 ELSE 8 END AS wgt,
               o_totalprice
        FROM (
            SELECT b, o_totalprice,
                   (('0x' || substr(md5('bs-v1:' || b || ':' || o_orderkey),
                                    1, 8))::BIGINT + 0.5)
                       / 4294967296.0 AS u
            FROM orders, UNNEST(range(0, 16)) AS t(b)) t)
    SELECT b::INTEGER AS resample_id,
           SUM(wgt)::BIGINT AS n_eff,
           ROUND((SUM((wgt * o_totalprice)::DECIMAL(28,6)))::DOUBLE
                 / SUM(wgt)::DOUBLE, 6) AS resample_mean
    FROM w GROUP BY b ORDER BY b
    """,
)
def q245_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value — 16
    resamples in ONE pass, no sampling shuffle: each row's
    multiplicity per resample is the md5-lottery uniform for
    (seed, b, orderkey) through the Poisson(1) inverse CDF as a
    LITERAL-threshold CASE chain (sampling.bootstrap_weight; the
    thresholds are committed constants, byte-identical in both
    engines, so the resamples are reproducible and auditable — the
    distributed-bootstrap property randomSplit/sample can never
    give). Exactness: weights are small integers, the weighted sum
    accumulates as DECIMAL, each resample mean is ONE IEEE division
    rounded at 1e-6. The caller reads the CI off the 16 resample
    means (percentile or t); the per-resample table is the oracled
    artifact because it IS the deterministic part. Scale: explode
    ×B then one partial-combining aggregate — map-side, linear in
    B·rows, zero shuffles of row data beyond the 16-group
    aggregate."""
    from ..operators.sampling import bootstrap_weight
    from ..operators.similarity import ensure_parallelism

    # the md5-lottery weight is ~16 hash evaluations per order row —
    # compute-dense enough that a single-split scan (one local
    # parquet file) serializes the whole pass; spread the NARROW
    # input first (no-op on a real multi-split warehouse scan)
    o = ensure_parallelism(
        table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    )
    exploded = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"),
    )
    w = exploded.select(
        "b",
        "o_totalprice",
        bootstrap_weight("o_orderkey", "b").alias("wgt"),
    )
    return (
        w.groupBy("b")
        .agg(
            F.sum("wgt").cast("bigint").alias("n_eff"),
            F.round(
                fastdec.dec_sum(
                    F.col("wgt") * F.col("o_totalprice")
                ).cast("double")
                / F.sum("wgt").cast("double"),
                6,
            ).alias("resample_mean"),
        )
        .select(
            F.col("b").cast("int").alias("resample_id"),
            "n_eff",
            "resample_mean",
        )
        .orderBy("resample_id")
    )


@q(
    "q246_media_embedding_bands",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
                ELSE 'image/png' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN doc_id % 8
                ELSE ((doc_id * 2) % 256) * 8 // 256
           END::INTEGER AS dominant_band,
           1000000::BIGINT AS share6
    FROM documents
    """,
)
def q246_media_embedding_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL classical media embeddings, attested through physics:
    even docs synthesize a WAV sine at the CENTER of spectral band
    doc_id % 8 and the embedding pipeline (full PCM decode → numpy
    real FFT → power → 8-band energy shares,
    multimodal.media_embedding) must find that band dominant; odd
    docs synthesize a constant-fill PNG whose 8-bin luma histogram
    is ONE-HOT at the predictable bin (v·8/256) with share exactly
    1.0 — so the oracle pins the argmax band for audio AND the
    exact 1e-6-pinned share for images (a sine's dominant-band
    share is leakage-dependent and deliberately NOT pinned; the
    constant image's is exact). This is the non-neural embedding
    path made real — the neural encoder remains the documented
    seam, but histogram/spectral features now run genuine DSP end
    to end, and downstream ANN/dedup operators consume this column
    shape unchanged. share6: images pin the exact one-hot share
    (1e6); audio pins the ATTESTED invariant — the dominant band
    holds a strict energy majority (1e6 when max share > 0.5) —
    because the exact share is FFT-leakage-dependent and pinning it
    would test the window function, not the pipeline. Payloads
    never shuffle."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        sr = 8000
        for pdf in batches:
            ids = pdf["doc_id"]
            types, payloads = [], []
            for i in ids:
                i = int(i)
                if i % 2 == 0:
                    b = i % 8
                    f = (b + 0.5) * (sr / 2) / 8
                    types.append("audio/wav")
                    payloads.append(multimodal.synth_wav(f, sr, 800))
                else:
                    types.append("image/png")
                    payloads.append(
                        multimodal.synth_png(
                            3 + i % 6, 2 + i % 5, (i * 2) % 256
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": types,
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    emb = multimodal.media_embedding(media, n_bands=8)
    arr = F.col("embedding")
    dominant = F.expr(
        "array_position(embedding, array_max(embedding)) - 1"
    ).cast("int")
    # images: one-hot -> max share exactly 1.0; audio: pin the
    # ATTESTED invariant instead of the leakage-dependent share —
    # the dominant band holds a strict majority of the energy
    share6 = F.when(
        F.col("media_type") == "image/png",
        F.round(F.array_max(arr) * 1000000).cast("bigint"),
    ).otherwise(
        (F.array_max(arr) > 0.5).cast("bigint") * 1000000
    )
    return emb.select(
        "media_id",
        "media_type",
        dominant.alias("dominant_band"),
        share6.alias("share6"),
    )


@q(
    "q247_record_linkage_scores",
    """
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               FLOOR(c_acctbal / 1000.0)::BIGINT AS balband,
               right(c_name, 2) AS cc
        FROM customer),
    pairs AS (
        SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
               a.c_mktsegment = b.c_mktsegment AS ag_seg,
               a.cc = b.cc AS ag_cc
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND a.balband = b.balband
         AND a.c_custkey < b.c_custkey)
    SELECT cust_a, cust_b,
           ROUND(
             (CASE WHEN ag_seg THEN 2.169925001442312
                   ELSE -3.0000000000000004 END)
             + 3.0874628412503395
             + (CASE WHEN ag_cc THEN 4.569855608330948
                     ELSE -4.263034405833793 END),
           6) AS match_weight
    FROM pairs
    WHERE (CASE WHEN ag_seg THEN 2.169925001442312
                ELSE -3.0000000000000004 END)
          + 3.0874628412503395
          + (CASE WHEN ag_cc THEN 4.569855608330948
                  ELSE -4.263034405833793 END) >= 6.0
    ORDER BY cust_a, cust_b
    """,
)
def q247_record_linkage_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probabilistic record linkage, the Fellegi-Sunter construction
    (1969): candidate customer pairs from deterministic blocking
    (same nation × same thousand-dollar balance band — the bounded-
    block discipline of q127's fuzzy pairs), scored by summed
    agreement/disagreement log-odds over three fields (market
    segment m=.9/u=.2; balance band m=.85/u=.1 — always agreeing
    inside the block, its weight is the constant agreement term;
    customer-name suffix digits m=.95/u=.04 — a stand-in identifier fragment; the fixture carries no phone column), thresholded at weight ≥ 6 —
    the ER pipeline between blocking and clerical review. Exactness:
    every weight is a driver-computed IEEE literal (repr-embedded
    into BOTH engines — the Poisson-threshold discipline), summed in
    fixed order, one ROUND at 1e-6. Scale: blocked equi-join (never
    all-pairs; block size bounded by nation × band), scoring is a
    map-side codegen expression, the threshold prunes before any
    shuffle of results."""
    from ..operators.dedup import fellegi_sunter_score, fellegi_sunter_weights

    c = table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("balband"),
        F.expr("right(c_name, 2)").alias("cc"),
    )
    a = c.alias("a")
    b = c.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.balband") == F.col("b.balband"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias(
                "ag_seg"
            ),
            (F.col("a.cc") == F.col("b.cc")).alias("ag_cc"),
        )
    )
    scored = fellegi_sunter_score(
        pairs,
        [
            (F.col("ag_seg"), 0.9, 0.2),
            (F.lit(True), 0.85, 0.1),  # balance band agrees by blocking
            (F.col("ag_cc"), 0.95, 0.04),
        ],
    )
    wa, _ = fellegi_sunter_weights(0.85, 0.1)
    return (
        scored.where(F.col("match_weight") >= 6.0)
        .select(
            "cust_a",
            "cust_b",
            F.round("match_weight", 6).alias("match_weight"),
        )
        .orderBy("cust_a", "cust_b")
    )


_MOJIBAKE_PLANT = 'cafÃ© naÃ¯ve â€“ broken â€œquote'
_MOJI_PAT_C3 = 'Ã[\xa0-ÿ]'
_MOJI_PAT_E2 = 'â€'


@q(
    "q248_mojibake_census",
    """
    WITH probe AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' cafÃ© naÃ¯ve â€“ broken â€œquote'
                    ELSE text END AS t
        FROM documents),
    d AS (
        SELECT doc_id, source,
               len(regexp_extract_all(t, 'Ã[ -ÿ]'))::BIGINT AS n_c3,
               len(regexp_extract_all(t, 'â€'))::BIGINT AS n_e2
        FROM probe)
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN n_c3 + n_e2 > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_suspect,
           SUM(n_c3)::BIGINT AS hits_c3,
           SUM(n_e2)::BIGINT AS hits_e2
    FROM d GROUP BY source ORDER BY source
    """,
)
def q248_mojibake_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake (double-decoded UTF-8) census — the crawl-quality
    probe for the classic encoding-damage signature: UTF-8 bytes
    re-decoded as Latin-1/cp1252 turn an accented letter into an
    A-tilde + continuation pair and curly punctuation into
    a-circumflex + euro sequences; counting those two signatures per
    document flags damaged sources before they poison a tokenizer
    vocabulary (q39's lang-id mis-buckets mojibake instead of
    flagging it). Every 11th doc is deterministically damaged IN THE
    QUERY — both engines append the identical mojibake plant — so
    the census is attested against known positives: the oracle
    predicts per-source suspect counts and hit totals exactly.
    Patterns are RE2/Java-portable character classes (no
    backreferences). Scale: map-side regexp projection + one
    source-bounded aggregate."""
    docs = table(spark, "documents", sf_dir)
    planted = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" " + _MOJIBAKE_PLANT)),
    ).otherwise(F.col("text"))
    d = docs.select("source", planted.alias("t")).select(
        "source",
        F.size(F.regexp_extract_all("t", F.lit(_MOJI_PAT_C3), 0))
        .cast("bigint")
        .alias("n_c3"),
        F.size(F.regexp_extract_all("t", F.lit(_MOJI_PAT_E2), 0))
        .cast("bigint")
        .alias("n_e2"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                ((F.col("n_c3") + F.col("n_e2")) > 0).cast("bigint")
            ).alias("n_suspect"),
            F.sum("n_c3").cast("bigint").alias("hits_c3"),
            F.sum("n_e2").cast("bigint").alias("hits_e2"),
        )
        .orderBy("source")
    )


@q(
    "q249_l_diversity_census",
    """
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*)::BIGINT AS group_size,
               COUNT(DISTINCT FLOOR(c_acctbal / 1000.0))::BIGINT
                   AS l_distinct
        FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT COUNT(*)::BIGINT AS n_groups,
           MIN(group_size) AS k_anonymity,
           MIN(l_distinct) AS l_diversity,
           SUM(CASE WHEN group_size < 5 THEN 1 ELSE 0 END)::BIGINT
               AS groups_under_k5,
           SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END)::BIGINT
               AS groups_under_l3,
           SUM(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
               ::BIGINT AS rows_at_risk
    FROM g
    """,
)
def q249_l_diversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity AND l-diversity in one release audit — the
    governance pair a privacy review runs before publishing a
    quasi-identified extract (q175 censuses k alone; k-anonymous
    groups whose SENSITIVE attribute is uniform still leak —
    Machanavajjhala et al.'s l-diversity closes that): over the
    quasi-identifier (nation × market segment), the census reports
    the worst-case group size (k), the worst-case count of distinct
    sensitive values per group (l, on the thousand-dollar balance
    band), how many groups fall under k=5 / l=3, and the row mass
    at re-identification risk. Exactness: pure integer counts and
    MINs — the FLOOR bucketing is the only arithmetic and it is
    integer division semantics on both engines. Scale: one
    partial-combining aggregate to QI-bounded groups (COUNT DISTINCT
    expands to a two-level aggregate, both map-side combinable),
    then a 1-row fold over the bounded group table."""
    c = table(spark, "customer", sf_dir)
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000.0)
        ).cast("bigint").alias("l_distinct"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("group_size").alias("k_anonymity"),
        F.min("l_distinct").alias("l_diversity"),
        F.sum((F.col("group_size") < 5).cast("bigint")).alias(
            "groups_under_k5"
        ),
        F.sum((F.col("l_distinct") < 3).cast("bigint")).alias(
            "groups_under_l3"
        ),
        F.sum(
            F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("rows_at_risk"),
    )


@q(
    "q250_ab_test_readout",
    """
    WITH armed AS (
        SELECT ('0x' || substr(md5('exp1:' || user_id), 1, 8))::BIGINT % 2
                   AS arm,
               value
        FROM events WHERE value IS NOT NULL),
    m AS (
        SELECT arm,
               COUNT(*)::BIGINT AS n,
               SUM(value::DECIMAL(28,6)) AS s1,
               SUM((value::DECIMAL(28,6)) * (value::DECIMAL(28,6))) AS s2
        FROM armed GROUP BY arm),
    w AS (
        SELECT a.n AS n_a, b.n AS n_b,
               a.s1::DOUBLE / a.n::DOUBLE AS m_a,
               b.s1::DOUBLE / b.n::DOUBLE AS m_b,
               (a.s2::DOUBLE - a.s1::DOUBLE * a.s1::DOUBLE / a.n::DOUBLE)
                   / (a.n - 1)::DOUBLE AS v_a,
               (b.s2::DOUBLE - b.s1::DOUBLE * b.s1::DOUBLE / b.n::DOUBLE)
                   / (b.n - 1)::DOUBLE AS v_b
        FROM m a JOIN m b ON a.arm = 0 AND b.arm = 1)
    SELECT n_a, n_b,
           ROUND(m_a, 6) AS mean_a,
           ROUND(m_b, 6) AS mean_b,
           ROUND(m_b - m_a, 6) AS lift,
           ROUND((m_b - m_a)
                 / sqrt(v_a / n_a::DOUBLE + v_b / n_b::DOUBLE), 6)
               AS welch_t
    FROM w
    """,
)
def q250_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation readout, end to end: users are assigned
    to arms by the portable md5 lottery keyed on
    (experiment, user_id) — the SAME deterministic assignment the
    split/sampling family uses, so an arm is reproducible on any
    engine and NEVER re-randomizes across reruns (the invariant an
    experiment platform lives on; Spark-side it is
    sampling.hash_bucket with the experiment seed) — then each
    arm's event-value metric is reduced with the q207 decimal-
    moment Welch discipline: exact per-arm (n, Σx, Σx²), fixed IEEE
    finish, one ROUND. Output: per-arm sizes and means, the lift,
    and the Welch t — the one-row decision table. Scale: a map-side
    arm projection + ONE two-group partial-combining aggregate; the
    arm join is 1×1 rows."""
    from ..operators.sampling import hash_bucket

    ev = table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    armed = ev.select(
        hash_bucket(
            F.concat(F.lit("exp1:"), F.col("user_id").cast("string")), 2
        ).alias("arm"),
        "value",
    )
    d = F.col("value").cast("decimal(28,6)")
    is_a = F.col("arm") == 0
    # ONE conditional-moment pass — the per-arm groupBy + self-join
    # form scans events twice; this is the single-scan twin with
    # identical per-arm sums (decimal addition is order-free)
    j = armed.agg(
        F.sum(is_a.cast("bigint")).alias("n_a"),
        F.sum((~is_a).cast("bigint")).alias("n_b"),
        F.sum(F.when(is_a, d)).alias("s1a"),
        F.sum(F.when(~is_a, d)).alias("s1b"),
        F.sum(F.when(is_a, d * d)).alias("s2a"),
        F.sum(F.when(~is_a, d * d)).alias("s2b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s1a").cast("double") / na
    mb = F.col("s1b").cast("double") / nb
    va = (
        F.col("s2a").cast("double")
        - F.col("s1a").cast("double") * F.col("s1a").cast("double") / na
    ) / (na - 1)
    vb = (
        F.col("s2b").cast("double")
        - F.col("s1b").cast("double") * F.col("s1b").cast("double") / nb
    ) / (nb - 1)
    t = (mb - ma) / F.sqrt(va / na + vb / nb)
    return j.select(
        F.col("n_a"),
        F.col("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(mb - ma, 6).alias("lift"),
        F.round(t, 6).alias("welch_t"),
    )


@q(
    "q251_mjpeg_mp4_frame_extract",
    """
    SELECT doc_id AS media_id,
           f::INTEGER AS frame_idx,
           (3 + doc_id % 6)::INTEGER AS width,
           (2 + doc_id % 5)::INTEGER AS height,
           ((doc_id * 2 + 42 * f) % 256)::INTEGER AS mean_val
    FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS t(f)
    """,
)
def q251_mjpeg_mp4_frame_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL MP4 frame-level decode — the last codec seam closed
    (round-8 verdict #7): per-document MJPEG-in-MP4 containers
    (multimodal.synth_mjpeg_mp4 — a genuine ISO BMFF video track
    whose ``jpeg`` samples are complete baseline JFIF images written
    by the from-scratch T.81 encoder, with real stts/stsc/stsz/stco
    tables) are demuxed by the real sample-table lookup
    (_mp4_sample_table resolves stsz sizes against stco/stsc chunk
    runs exactly like a demuxer) and every frame is decoded by the
    from-scratch T.81 decoder, turning MP4 from metadata-only (q236)
    into frame-level like GIF (q229). Exactness through the lossy
    pipeline: fills are EVEN (doc_id·2 + 42·f), so DC = 8·(v−128)
    divides Annex-K Q[0,0]=16 and the decoded mean reproduces the
    fill bit-exactly — the oracle predicts the entire frame
    inventory and every frame's recovered fill in closed form. A
    wrong stsc expansion, an off-by-one stco offset, or any T.81
    bug lands on every row. Compressed inter-frame codecs
    (avc1/hevc) stay the one documented external seam. Scale:
    synth + demux + decode fuse into one narrow Arrow stage;
    payload bytes never shuffle; fan-out is ≤4 metadata-sized rows
    per doc."""
    import pandas as pd

    from ..operators.similarity import ensure_parallelism

    docs = ensure_parallelism(
        table(spark, "documents", sf_dir).select("doc_id")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        multimodal.synth_mjpeg_mp4(
                            3 + int(i) % 6,
                            2 + int(i) % 5,
                            [
                                (int(i) * 2 + 42 * f) % 256
                                for f in range(2 + int(i) % 3)
                            ],
                        )
                        for i in ids
                    ],
                    "media_type": ["video/mp4"] * len(ids),
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    media = docs.mapInPandas(synth, multimodal.MEDIA_SCHEMA)
    return multimodal.mp4_jpeg_frame_features(media).select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("r") * 255).cast("int").alias("mean_val"),
    )


@q(
    "q252_kruskal_wallis",
    """
    WITH v AS (
        SELECT l_returnflag AS g, l_extendedprice AS val FROM lineitem),
    cnt_v AS (
        SELECT val, COUNT(*)::BIGINT AS cnt FROM v GROUP BY val),
    r AS (
        SELECT val,
               2 * (SUM(cnt) OVER (ORDER BY val) - cnt) + cnt + 1 AS r2
        FROM cnt_v),
    gv AS (
        SELECT g, val, COUNT(*)::BIGINT AS c FROM v GROUP BY g, val),
    gsum AS (
        SELECT g, SUM(c)::BIGINT AS n_g,
               SUM((c * r.r2)::DECIMAL(38,0)) AS rs2
        FROM gv JOIN r USING (val) GROUP BY g),
    terms AS (
        SELECT n_g,
               ROUND(1000000.0 * ((rs2::DOUBLE * rs2::DOUBLE)
                                  / n_g::DOUBLE))::DECIMAL(38,0) AS t6
        FROM gsum),
    tot AS (
        SELECT SUM(n_g)::BIGINT AS n_total, COUNT(*)::BIGINT AS k_groups,
               SUM(t6) AS s6
        FROM terms),
    ties AS (
        SELECT SUM((cnt::DECIMAL(38,0)) * cnt * cnt - cnt) AS st
        FROM cnt_v)
    SELECT n_total, k_groups,
           ROUND(
             (12.0 * ((s6::DOUBLE / 1000000.0) / 4.0)
                / (n_total::DOUBLE * (n_total::DOUBLE + 1.0))
              - 3.0 * (n_total::DOUBLE + 1.0))
             / (1.0 - st::DOUBLE
                / (n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
                   - n_total::DOUBLE)),
             6) AS h_tie_corrected
    FROM tot, ties
    """,
)
def q252_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (one-way ANOVA on ranks: does extended price
    distribution differ across return flags?) — the k-group
    generalization of the rank family started by q239: GLOBAL
    tie-averaged ranks in the doubled BIGINT encoding (via
    `grouped_doubled_ranks` on a constant group — value counts are
    the rank input, so only distinct values shuffle), per-group rank
    sums as exact DECIMAL, and the single cross-group float fold
    pinned to 1e-6 integers (the q230 discipline) so summing the k
    per-group R²/n terms stays order-free — the statistic is then
    one fixed IEEE chain with the standard tie correction
    1 − Σ(t³−t)/(N³−N). Scale: two hash aggregates over the fact
    table + rank arithmetic on the distinct-value table; nothing is
    per-group serial, k is unbounded."""
    from ..operators.groupstats import grouped_doubled_ranks

    li = table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("val"),
    )
    d1 = "decimal(38,0)"
    # (Optimization round 12: a checkpointed (g, val) contingency
    # table feeding both marginals was measured SLOWER — 2.13-2.61 s
    # vs 1.68-2.16 s same-session — the three cheap fact aggregates
    # beat the materialization + extra exchanges; kept as-is.)
    cnt_v = li.groupBy("val").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r2 = grouped_doubled_ranks(
        cnt_v.withColumn("g1", F.lit(1)), "g1", "val", "cnt", out_col="r2"
    ).select("val", "r2")
    gv = li.groupBy("g", "val").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gsum = gv.join(r2, "val").groupBy("g").agg(
        F.sum("c").alias("n_g"),
        F.sum((F.col("c").cast(d1) * F.col("r2"))).alias("rs2"),
    )
    terms = gsum.select(
        "n_g",
        F.round(
            F.lit(1000000.0)
            * (
                F.col("rs2").cast("double")
                * F.col("rs2").cast("double")
                / F.col("n_g").cast("double")
            )
        )
        .cast(d1)
        .alias("t6"),
    )
    tot = terms.agg(
        F.sum("n_g").alias("n_total"),
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("t6").alias("s6"),
    )
    ties = cnt_v.agg(
        F.sum(
            F.col("cnt").cast(d1) * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("st")
    )
    n_d = F.col("n_total").cast("double")
    h = (
        F.lit(12.0)
        * ((F.col("s6").cast("double") / F.lit(1000000.0)) / F.lit(4.0))
        / (n_d * (n_d + F.lit(1.0)))
        - F.lit(3.0) * (n_d + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("st").cast("double") / (n_d * n_d * n_d - n_d)
    # 1-row × 1-row: broadcast cross join, constant cost
    return tot.crossJoin(F.broadcast(ties)).select(
        "n_total",
        "k_groups",
        F.round(h / corr, 6).alias("h_tie_corrected"),
    )


@q(
    "q253_mann_whitney_u",
    """
    WITH v AS (
        SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS hi,
               o_totalprice AS val
        FROM orders),
    cnt_v AS (
        SELECT val, COUNT(*)::BIGINT AS cnt FROM v GROUP BY val),
    r AS (
        SELECT val,
               2 * (SUM(cnt) OVER (ORDER BY val) - cnt) + cnt + 1 AS r2
        FROM cnt_v),
    gv AS (
        SELECT hi, val, COUNT(*)::BIGINT AS c FROM v GROUP BY hi, val),
    agg AS (
        SELECT SUM(CASE WHEN hi THEN c ELSE 0 END)::BIGINT AS n_hi,
               SUM(CASE WHEN NOT hi THEN c ELSE 0 END)::BIGINT AS n_lo,
               SUM(CASE WHEN hi THEN (c * r.r2)::DECIMAL(38,0)
                        ELSE 0::DECIMAL(38,0) END) AS rs2_hi
        FROM gv JOIN r USING (val)),
    ties AS (
        SELECT SUM((cnt::DECIMAL(38,0)) * cnt * cnt - cnt) AS st
        FROM cnt_v)
    SELECT n_hi, n_lo,
           (rs2_hi - (n_hi::DECIMAL(38,0)) * (n_hi + 1))::BIGINT
               AS u2_hi,
           ROUND(1.0 - (rs2_hi - (n_hi::DECIMAL(38,0)) * (n_hi + 1))::DOUBLE
                       / (n_hi::DOUBLE * n_lo::DOUBLE), 6) AS rank_biserial,
           ROUND(((rs2_hi - (n_hi::DECIMAL(38,0)) * (n_hi + 1))::DOUBLE
                  - n_hi::DOUBLE * n_lo::DOUBLE)
                 / (2.0 * sqrt(
                     (n_hi::DOUBLE * n_lo::DOUBLE / 12.0)
                     * ((n_hi::DOUBLE + n_lo::DOUBLE + 1.0)
                        - st::DOUBLE
                          / ((n_hi::DOUBLE + n_lo::DOUBLE)
                             * (n_hi::DOUBLE + n_lo::DOUBLE - 1.0))))),
                 6) AS z_score
    FROM agg, ties
    """,
)
def q253_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum (do high-priority orders
    carry different total prices?) — the two-sample member of the
    rank family (q239 grouped Spearman, q252 k-group KW): global
    doubled ranks from `grouped_doubled_ranks` over the
    distinct-value counts, ONE conditional-moment aggregate folds
    both samples in a single pass (the q250 two-arm discipline —
    no per-group rows, no cross-group float sum at all), and the
    doubled statistic 2U = ΣR2_hi − n_hi(n_hi+1) stays BIGINT-exact
    through tie-averaged ranks (U itself can be half-integer).
    Outputs the exact doubled U plus the rank-biserial effect size
    and the tie-corrected normal-approximation z, each one fixed
    IEEE chain rounded once. Scale: one hash aggregate to value
    counts, rank arithmetic on distinct values only, one
    partial-combining conditional fold — no windows over fact rows,
    nothing per-group serial."""
    from ..operators.groupstats import grouped_doubled_ranks

    d1 = "decimal(38,0)"
    v = table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("hi"),
        F.col("o_totalprice").alias("val"),
    )
    cnt_v = v.groupBy("val").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r2 = grouped_doubled_ranks(
        cnt_v.withColumn("g1", F.lit(1)), "g1", "val", "cnt", out_col="r2"
    ).select("val", "r2")
    gv = v.groupBy("hi", "val").agg(F.count(F.lit(1)).cast("long").alias("c"))
    c, hi = F.col("c"), F.col("hi")
    agg = gv.join(r2, "val").agg(
        F.sum(F.when(hi, c).otherwise(F.lit(0))).alias("n_hi"),
        F.sum(F.when(~hi, c).otherwise(F.lit(0))).alias("n_lo"),
        F.sum(
            F.when(hi, c.cast(d1) * F.col("r2")).otherwise(
                F.lit(0).cast(d1)
            )
        ).alias("rs2_hi"),
    )
    ties = cnt_v.agg(
        F.sum(
            F.col("cnt").cast(d1) * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("st")
    )
    n1, n2 = F.col("n_hi"), F.col("n_lo")
    u2 = (F.col("rs2_hi") - n1.cast(d1) * (n1 + 1)).cast(d1)
    n1d, n2d = n1.cast("double"), n2.cast("double")
    nd = n1d + n2d
    var = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("st").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n_hi",
        "n_lo",
        u2.cast("long").alias("u2_hi"),
        F.round(
            F.lit(1.0) - u2.cast("double") / (n1d * n2d), 6
        ).alias("rank_biserial"),
        F.round(
            (u2.cast("double") - n1d * n2d) / (F.lit(2.0) * F.sqrt(var)), 6
        ).alias("z_score"),
    )


@q(
    "q254_kendall_tau_b",
    """
    WITH cells AS (
        SELECT l_returnflag AS g, l_quantity AS x,
               l_linenumber AS y, COUNT(*)::BIGINT AS n
        FROM lineitem GROUP BY g, x, y),
    cd AS (
        SELECT a.g,
               SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END)::BIGINT
                   AS concordant,
               SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END)::BIGINT
                   AS discordant
        FROM cells a JOIN cells b
          ON a.g = b.g AND b.x < a.x AND b.y <> a.y
        GROUP BY a.g),
    tx AS (
        SELECT g, SUM(t * (t - 1) / 2)::BIGINT AS n1
        FROM (SELECT g, x, SUM(n)::BIGINT AS t FROM cells GROUP BY g, x)
        GROUP BY g),
    ty AS (
        SELECT g, SUM(t * (t - 1) / 2)::BIGINT AS n2
        FROM (SELECT g, y, SUM(n)::BIGINT AS t FROM cells GROUP BY g, y)
        GROUP BY g),
    tot AS (
        SELECT g, SUM(n)::BIGINT AS n_rows FROM cells GROUP BY g)
    SELECT tot.g AS l_returnflag, n_rows, concordant, discordant,
           ROUND((concordant::DOUBLE - discordant::DOUBLE)
                 / sqrt((n_rows::DOUBLE * (n_rows::DOUBLE - 1.0) / 2.0
                         - n1::DOUBLE)
                        * (n_rows::DOUBLE * (n_rows::DOUBLE - 1.0) / 2.0
                           - n2::DOUBLE)),
                 6) AS tau_b
    FROM tot
    JOIN cd USING (g) JOIN tx USING (g) JOIN ty USING (g)
    ORDER BY l_returnflag
    """,
)
def q254_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Kendall tau-b between two LOW-CARDINALITY ordinal
    columns (quantity level vs line number, per return flag) — the
    concordance member of the rank family (q239 Spearman, q252 KW,
    q253 MWU), and the one whose naive form is quadratic in ROWS
    (all pairs). The scale observation: with bounded ordinal
    domains, concordant/discordant pair counts are 2-D dominance
    sums over the CONTINGENCY TABLE — one full-parallelism hash
    aggregate reduces the fact table to ≤ |x|·|y|·|groups| cells
    (≈1050 here), and the dominance join runs on that metadata-sized
    table (broadcast non-equi self-join, bounded by contract — never
    on rows). Everything stays BIGINT through the tie terms
    n1 = Σt(t−1)/2; tau-b is one fixed IEEE chain rounded once. A
    continuous column would first quantize to the q71/q165
    percentile grid — same shape."""
    li = table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("x"),
        F.col("l_linenumber").alias("y"),
    )
    cells = li.groupBy("g", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = cells.alias("a"), cells.alias("b")
    # bounded-by-contract non-equi self-join: |cells| ≤ |x|·|y|·|g|
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("b.x") < F.col("a.x"))
            & (F.col("b.y") != F.col("a.y")),
        )
        .groupBy(F.col("a.g").alias("g"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.y") < F.col("a.y"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(
                    F.col("b.y") > F.col("a.y"),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    t = F.col("t")
    tx = (
        cells.groupBy("g", "x")
        .agg(F.sum("n").alias("t"))
        .groupBy("g")
        .agg(F.sum(t * (t - 1) / 2).cast("long").alias("n1"))
    )
    ty = (
        cells.groupBy("g", "y")
        .agg(F.sum("n").alias("t"))
        .groupBy("g")
        .agg(F.sum(t * (t - 1) / 2).cast("long").alias("n2"))
    )
    tot = cells.groupBy("g").agg(F.sum("n").alias("n_rows"))
    nd = F.col("n_rows").cast("double")
    n0 = nd * (nd - F.lit(1.0)) / F.lit(2.0)
    tau = (
        F.col("concordant").cast("double")
        - F.col("discordant").cast("double")
    ) / F.sqrt(
        (n0 - F.col("n1").cast("double")) * (n0 - F.col("n2").cast("double"))
    )
    return (
        tot.join(cd, "g")
        .join(tx, "g")
        .join(ty, "g")
        .select(
            F.col("g").alias("l_returnflag"),
            "n_rows",
            "concordant",
            "discordant",
            F.round(tau, 6).alias("tau_b"),
        )
        .orderBy("l_returnflag")
    )


@q(
    "q255_theil_sen_trend",
    """
    WITH daily AS (
        SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS di,
               SUM(value::DECIMAL(28,6)) AS s
        FROM events GROUP BY 1),
    slopes AS (
        SELECT ((b.s - a.s)::DOUBLE) / ((b.di - a.di)::DOUBLE) AS slope
        FROM daily a JOIN daily b ON b.di > a.di),
    ts AS (
        SELECT quantile_cont(slope, 0.5) AS theil_slope,
               COUNT(*)::BIGINT AS n_pairs
        FROM slopes),
    ic AS (
        SELECT quantile_cont(d.s::DOUBLE - t.theil_slope * d.di::DOUBLE,
                             0.5) AS intercept,
               COUNT(*)::BIGINT AS n_days
        FROM daily d, ts t)
    SELECT n_days, n_pairs,
           ROUND(t.theil_slope, 6) AS slope_per_day,
           ROUND(i.intercept, 6) AS intercept
    FROM ts t, ic i
    """,
)
def q255_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event value (median of all
    pairwise slopes + the matching median intercept) — the
    breakdown-resistant companion to q228's OLS: up to ~29% of the
    daily totals can be corrupt before the estimate moves, which is
    what you want fitting a trend through telemetry with outage
    spikes. The quadratic pair set lives on the DAILY aggregate —
    calendar-bounded by contract (3.6k days of a 100 TB lake is
    6.6M slope pairs, metadata-sized), never on events; the fact
    table is consumed by ONE full-parallelism date aggregate.
    Exactness: daily sums are DECIMAL (order-free), each slope is
    one IEEE division of exact differences, the median is the q165
    percentile (`F.percentile` ≡ `quantile_cont`, cross-engine
    matched there), and the intercept chain reuses the already-
    median slope — fixed op order, each output rounded once."""
    ev = table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("di")
    ).agg(fastdec.dec_sum(F.col("value")).alias("s"))
    a, b = daily.alias("a"), daily.alias("b")
    # bounded-by-contract non-equi self-join: |daily| = calendar days
    slopes = a.join(
        F.broadcast(b), F.col("b.di") > F.col("a.di")
    ).select(
        (
            (F.col("b.s") - F.col("a.s")).cast("double")
            / (F.col("b.di") - F.col("a.di")).cast("double")
        ).alias("slope")
    )
    ts = slopes.agg(
        F.percentile("slope", 0.5).alias("theil_slope"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    ic = daily.crossJoin(F.broadcast(ts)).agg(
        F.percentile(
            F.col("s").cast("double")
            - F.col("theil_slope") * F.col("di").cast("double"),
            0.5,
        ).alias("intercept"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return (
        ts.crossJoin(F.broadcast(ic))
        .select(
            "n_days",
            "n_pairs",
            F.round("theil_slope", 6).alias("slope_per_day"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


@q(
    "q256_t_closeness_audit",
    """
    WITH c AS (
        SELECT c_nationkey AS nk,
               COALESCE(c_mktsegment, '(null)') AS seg,
               FLOOR(c_acctbal / 1000.0)::BIGINT AS band
        FROM customer
        WHERE c_acctbal IS NOT NULL),
    cells AS (
        SELECT nk, seg, band, COUNT(*)::BIGINT AS n_gb
        FROM c GROUP BY nk, seg, band),
    grp AS (
        SELECT nk, seg, SUM(n_gb)::BIGINT AS n_g FROM cells GROUP BY nk, seg),
    gband AS (
        SELECT band, SUM(n_gb)::BIGINT AS n_b FROM cells GROUP BY band),
    tot AS (
        SELECT SUM(n_b)::BIGINT AS n_total, COUNT(*)::BIGINT AS m_bands
        FROM gband),
    dense AS (
        SELECT g.nk, g.seg, g.n_g, b.band, b.n_b,
               COALESCE(cl.n_gb, 0)::BIGINT AS n_gb
        FROM grp g CROSS JOIN gband b
        LEFT JOIN cells cl
          ON cl.nk = g.nk AND cl.seg = g.seg AND cl.band = b.band),
    cum AS (
        SELECT nk, seg, n_g, band,
               SUM((n_gb::DECIMAL(38,0)) * t.n_total
                   - (n_b::DECIMAL(38,0)) * n_g)
                   OVER (PARTITION BY nk, seg ORDER BY band
                         ROWS UNBOUNDED PRECEDING) AS d_cum,
               t.n_total, t.m_bands
        FROM dense, tot t),
    emd AS (
        SELECT nk, seg,
               SUM(ABS(d_cum))::DOUBLE
               / (ANY_VALUE(n_g)::DOUBLE * ANY_VALUE(n_total)::DOUBLE
                  * (ANY_VALUE(m_bands)::DOUBLE - 1.0)) AS t_emd,
               ANY_VALUE(n_g)::BIGINT AS n_g
        FROM cum GROUP BY nk, seg)
    SELECT COUNT(*)::BIGINT AS n_groups,
           (SELECT m_bands FROM tot)::BIGINT AS m_bands,
           ROUND(MAX(t_emd), 6) AS worst_t,
           SUM(CASE WHEN t_emd > 0.2 THEN 1 ELSE 0 END)::BIGINT
               AS groups_over_t02,
           SUM(CASE WHEN t_emd > 0.2 THEN n_g ELSE 0 END)::BIGINT
               AS rows_at_risk
    FROM emd
    """,
)
def q256_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit — the third member of the
    governance triptych (q175 k-anonymity, q249 l-diversity): a
    group can be k-anonymous AND l-diverse while its sensitive
    distribution still differs revealingly from the population
    (Li et al.'s t-closeness closes that). Per QI group
    (nation × segment) the Earth-Mover's Distance between the
    group's account-balance band distribution and the global one —
    for an ORDERED attribute EMD is the mean |cumulative
    difference|, and the cumulative differences are kept as EXACT
    integer numerators over the common denominator n_g·N
    (Σ n_gb·N − n_b·n_g in DECIMAL), so the only float op is each
    group's final single division. Census: worst t, groups over
    t=0.2, and the row mass they hold. Scale: one partial-combining
    aggregate reduces the table to QI×band cells (bounded domain);
    the densified grid, windows and folds all run on that
    metadata-sized table.

    Null contract (round-11 null adversary): a null SENSITIVE value
    (c_acctbal) is excluded — the t-closeness distribution is over
    known values, and a null band otherwise lands at a different end
    of the cumulative order on each engine; a null QI value
    (c_mktsegment) coalesces to its own '(null)' equivalence class —
    dropping it would hide those rows from the audit, and leaving it
    raw would make the group's cells vanish from the densified grid
    (null never equi-joins), reporting a fake worst-case EMD."""
    c = (
        table(spark, "customer", sf_dir)
        .where(F.col("c_acctbal").isNotNull())
        .select(
            F.col("c_nationkey").alias("nk"),
            F.coalesce(F.col("c_mktsegment"), F.lit("(null)")).alias("seg"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("band"),
        )
    )
    d1 = "decimal(38,0)"
    cells = c.groupBy("nk", "seg", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_gb")
    )
    grp = cells.groupBy("nk", "seg").agg(F.sum("n_gb").alias("n_g"))
    glob = cells.groupBy("band").agg(F.sum("n_gb").alias("n_b"))
    tot = glob.agg(
        F.sum("n_b").alias("n_total"), F.count(F.lit(1)).alias("m_bands")
    )
    dense = (
        grp.crossJoin(F.broadcast(glob))  # bounded: QI groups × bands
        .join(cells, ["nk", "seg", "band"], "left")
        .withColumn("n_gb", F.coalesce(F.col("n_gb"), F.lit(0)))
        .crossJoin(F.broadcast(tot))  # 1-row totals
    )
    w = (
        Window.partitionBy("nk", "seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.withColumn(
        "d_cum",
        F.sum(
            F.col("n_gb").cast(d1) * F.col("n_total")
            - F.col("n_b").cast(d1) * F.col("n_g")
        ).over(w),
    )
    emd = cum.groupBy("nk", "seg").agg(
        (
            F.sum(F.abs(F.col("d_cum"))).cast("double")
            / (
                F.any_value("n_g").cast("double")
                * F.any_value("n_total").cast("double")
                * (F.any_value("m_bands").cast("double") - F.lit(1.0))
            )
        ).alias("t_emd"),
        F.any_value("n_g").cast("long").alias("n_g"),
    )
    m_bands = tot.select("m_bands")
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.round(F.max("t_emd"), 6).alias("worst_t"),
        F.sum((F.col("t_emd") > 0.2).cast("long")).alias("groups_over_t02"),
        F.sum(
            F.when(F.col("t_emd") > 0.2, F.col("n_g")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("rows_at_risk"),
    ).crossJoin(F.broadcast(m_bands)).select(
        "n_groups",
        F.col("m_bands").cast("long").alias("m_bands"),
        "worst_t",
        "groups_over_t02",
        "rows_at_risk",
    )


@q(
    "q257_copurchase_clustering",
    """
    WITH e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey),
    deg AS (
        SELECT x, COUNT(*)::BIGINT AS d
        FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        GROUP BY x),
    w AS (SELECT SUM(d * (d - 1) // 2)::BIGINT AS n_wedges FROM deg),
    t AS (
        SELECT COUNT(*)::BIGINT AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    m AS (SELECT COUNT(*)::BIGINT AS n_edges FROM e)
    SELECT n_edges, n_wedges, n_triangles,
           ROUND(3.0 * n_triangles::DOUBLE / n_wedges::DOUBLE, 6)
               AS global_cc
    FROM m, w, t
    """,
)
def q257_copurchase_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient of the part co-purchase graph —
    q231's triangle count completed into the transitivity summary
    3T/W (W = Σ d(d−1)/2 wedges): the one-number cohesion audit that
    tells a dedup/recommendation pipeline whether its pair graph is
    clustered (triadic closure — survivor-selection math applies) or
    an accidental-pair mist. `graph.clustering_stats` persists ONE
    canonical edge set and feeds both legs — the BIGINT wedge
    aggregate and the degree-ordered compact-forward triangle core
    shared with q231 — then unpersists before returning; the
    coefficient is the single IEEE division. The oracle recomputes
    wedges from SQL degrees and triangles by the naive ordered
    3-clique join — algorithm-independent ground truth for all four
    outputs. Scale: linear-by-contract in edges like q231 (the
    probe generator holds average degree constant); no adjacency
    ever exceeds the O(√m) oriented bound."""
    from ..operators.graph import clustering_stats, cooccurrence_edges

    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # groupBy + in-row pair explode replaces the lineitem self-join —
    # same distinct (least, greatest) edge set, one shuffle of the
    # fact rows instead of two plus a join (q231's note)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # distinct (src < dst) by construction — see q231's note
    return clustering_stats(edges, assume_canonical=True)


@q(
    "q258_url_domain_census",
    """
    WITH d AS (
        SELECT doc_id,
               'src' || (doc_id % 7) || '.example.com' AS dom1,
               'cdn-' || (doc_id % 4) || '.assets.net' AS dom2
        FROM documents),
    u AS (
        SELECT doc_id, dom1 AS domain FROM d
        UNION ALL
        SELECT doc_id, 'example.com' AS domain FROM d
        UNION ALL
        SELECT doc_id, dom2 AS domain FROM d),
    reg AS (
        SELECT doc_id,
               CASE WHEN domain LIKE '%assets.net'
                    THEN 'assets.net'
                    ELSE 'example.com' END AS domain
        FROM u)
    SELECT domain, COUNT(*)::BIGINT AS n_urls,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs
    FROM reg GROUP BY domain ORDER BY domain
    """,
)
def q258_url_domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL census over a synthesized crawl page — the
    stage-zero web-curation operator (domain volume → source caps /
    licensing review / blocklists; the C4-style domain filter). Each
    document is decorated with THREE deterministic URLs carrying the
    classic extraction traps: one wrapped in parens with a trailing
    period + mixed-case host + www prefix
    (``(see https://WWW.src{k}.Example.COM/p/{id}).``), one with a
    trailing comma and a query string
    (``https://src{k}.example.com/q?id={id}&v=2,``), and one on a
    second registrable domain with a path
    (``http://cdn-{j}.assets.net/x/{id}``). `url_domain_census`
    (pure RE2-portable codegen regexp, no UDF) must strip the
    trailing punctuation, lowercase the host, drop ``www.``, and
    reduce to last-two-label registrable domains — the oracle
    predicts the resulting census in CLOSED FORM from the doc_id
    arithmetic (the q238 inversion discipline), so a swallowed
    paren, kept comma, or case-sensitive host grouping all
    hash-mismatch. Scale: one narrow projection + explode of ≤3
    URL rows per doc + one partial-combining census aggregate."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    i = F.col("doc_id")
    page = F.concat(
        F.col("text"),
        F.lit(" (see https://WWW.src"), i % 7,
        F.lit(".Example.COM/p/"), i,
        F.lit(")."),
        F.lit(" https://src"), i % 7,
        F.lit(".example.com/q?id="), i,
        F.lit("&v=2,"),
        F.lit(" http://cdn-"), i % 4,
        F.lit(".assets.net/x/"), i,
    )
    pages = docs.select("doc_id", page.alias("page"))
    return textstats.url_domain_census(
        pages, text_col="page", id_col="doc_id"
    ).orderBy("domain")


def _kappa_oracle() -> str:
    # reuse q39's generated lang-id SQL twin as the prediction CTE —
    # ONE definition of the marker-voting semantics for both queries
    return f"""
    WITH pred AS ({_langid_oracle()}),
    conf AS (
        SELECT lang AS truth, predicted_lang AS pred,
               COUNT(*)::BIGINT AS n
        FROM pred GROUP BY 1, 2),
    tot AS (
        SELECT SUM(n)::BIGINT AS n_total,
               SUM(CASE WHEN truth = pred THEN n ELSE 0 END)::BIGINT
                   AS n_agree
        FROM conf),
    marg AS (
        SELECT COALESCE(r.truth, c.pred) AS label,
               COALESCE(r.rn, 0)::DECIMAL(38,0) AS rn,
               COALESCE(c.cn, 0)::DECIMAL(38,0) AS cn
        FROM (SELECT truth, SUM(n)::BIGINT AS rn FROM conf GROUP BY truth) r
        FULL JOIN (SELECT pred, SUM(n)::BIGINT AS cn
                   FROM conf GROUP BY pred) c
          ON r.truth = c.pred),
    pe AS (SELECT SUM(rn * cn) AS s FROM marg)
    SELECT n_total, n_agree,
           ROUND(n_agree::DOUBLE / n_total::DOUBLE, 6) AS accuracy,
           ROUND((n_agree::DOUBLE * n_total::DOUBLE - s::DOUBLE)
                 / (n_total::DOUBLE * n_total::DOUBLE - s::DOUBLE), 6)
               AS cohens_kappa
    FROM tot, pe
    """


@q("q259_langid_cohens_kappa", None)
def q259_langid_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the q39 marker-voting language
    identifier and the corpus ground-truth `lang` label — the
    chance-corrected agreement score an eval harness reports for any
    auto-labeler (accuracy alone flatters a classifier that just
    predicts the majority class; kappa subtracts the marginal-chance
    agreement). Exact algebra over the confusion matrix: with
    N = total, A = agreement and S = Σ_label row_marginal ·
    col_marginal, kappa = (A·N − S)/(N² − S) — every term BIGINT/
    DECIMAL, one IEEE division rounded once (the q209 χ² posture).
    The oracle composes q39's generated SQL twin as its prediction
    CTE, so the voting semantics have exactly ONE definition across
    both queries. Scale: one narrow scan + marker scoring (codegen),
    one |langs|²-bounded confusion aggregate, marginal products on
    the label-bounded table, 1-row folds."""
    from ..operators.textstats import lang_id

    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    pred = lang_id(docs, "text").select(
        F.col("lang").alias("truth"),
        F.col("predicted_lang").alias("pred"),
    )
    conf = pred.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = conf.agg(
        F.sum("n").alias("n_total"),
        F.sum(
            F.when(F.col("truth") == F.col("pred"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("n_agree"),
    )
    rows_m = conf.groupBy("truth").agg(F.sum("n").alias("rn"))
    cols_m = conf.groupBy("pred").agg(F.sum("n").alias("cn"))
    d1 = "decimal(38,0)"
    pe = (
        rows_m.join(
            cols_m, rows_m["truth"] == cols_m["pred"], "full"
        )
        .select(
            (
                F.coalesce(F.col("rn"), F.lit(0)).cast(d1)
                * F.coalesce(F.col("cn"), F.lit(0)).cast(d1)
            ).alias("p")
        )
        .agg(F.sum("p").alias("s"))
    )
    nd = F.col("n_total").cast("double")
    ad = F.col("n_agree").cast("double")
    sd = F.col("s").cast("double")
    return tot.crossJoin(F.broadcast(pe)).select(
        "n_total",
        "n_agree",
        F.round(ad / nd, 6).alias("accuracy"),
        F.round((ad * nd - sd) / (nd * nd - sd), 6).alias("cohens_kappa"),
    )


ORACLES["q259_langid_cohens_kappa"] = _kappa_oracle()


@q(
    "q260_ab_mde_power",
    """
    WITH armed AS (
        SELECT ('0x' || substr(md5('exp1:' || user_id), 1, 8))::BIGINT % 2
                   AS arm,
               value
        FROM events WHERE value IS NOT NULL),
    m AS (
        SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
               SUM(CASE WHEN arm = 0 THEN value::DECIMAL(28,6) END) AS s1a,
               SUM(CASE WHEN arm = 1 THEN value::DECIMAL(28,6) END) AS s1b,
               SUM(CASE WHEN arm = 0 THEN (value::DECIMAL(28,6))
                                          * (value::DECIMAL(28,6)) END)
                   AS s2a,
               SUM(CASE WHEN arm = 1 THEN (value::DECIMAL(28,6))
                                          * (value::DECIMAL(28,6)) END)
                   AS s2b
        FROM armed),
    w AS (
        SELECT n_a, n_b,
               s1a::DOUBLE / n_a::DOUBLE AS m_a,
               s1b::DOUBLE / n_b::DOUBLE AS m_b,
               (s2a::DOUBLE - s1a::DOUBLE * s1a::DOUBLE / n_a::DOUBLE)
                   / (n_a - 1)::DOUBLE AS v_a,
               (s2b::DOUBLE - s1b::DOUBLE * s1b::DOUBLE / n_b::DOUBLE)
                   / (n_b - 1)::DOUBLE AS v_b
        FROM m)
    SELECT n_a, n_b,
           ROUND((1.959963984540054 + 0.8416212335729143)
                 * sqrt(v_a / n_a::DOUBLE + v_b / n_b::DOUBLE), 6)
               AS mde_abs,
           ROUND(((1.959963984540054 + 0.8416212335729143)
                  * sqrt(v_a / n_a::DOUBLE + v_b / n_b::DOUBLE)) / m_a, 6)
               AS mde_rel,
           LEAST(CEIL((1.959963984540054 + 0.8416212335729143)
                      * (1.959963984540054 + 0.8416212335729143)
                      * (v_a + v_b) / ((m_b - m_a) * (m_b - m_a))),
                 1000000000000000.0)::BIGINT AS n_per_arm_for_lift
    FROM w
    """,
)
def q260_ab_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment-design readout that belongs next to q250's
    decision table: the minimum detectable effect at the CURRENT
    sample (two-sided α=0.05, power 0.80 — the z constants are
    pinned literals on both engines, so no engine-specific inverse-
    normal is invoked), the same as a fraction of the control mean,
    and the per-arm sample size that would be needed to detect the
    OBSERVED lift — the three numbers that answer 'is this
    experiment big enough?'. Built from the identical md5-lottery
    arms and decimal-exact conditional moments as q250 (one
    single-scan fold), finished by one fixed IEEE chain; the
    required-n is capped at 1e15 before the BIGINT cast so a
    near-zero observed lift degrades to a sentinel instead of an
    overflow. Scale: one map-side projection + one
    partial-combining aggregate; everything after is a 1-row
    expression."""
    from ..operators.sampling import hash_bucket

    Z = 1.959963984540054 + 0.8416212335729143
    ev = table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    armed = ev.select(
        hash_bucket(
            F.concat(F.lit("exp1:"), F.col("user_id").cast("string")), 2
        ).alias("arm"),
        "value",
    )
    d = F.col("value").cast("decimal(28,6)")
    is_a = F.col("arm") == 0
    m = armed.agg(
        F.sum(is_a.cast("bigint")).alias("n_a"),
        F.sum((~is_a).cast("bigint")).alias("n_b"),
        F.sum(F.when(is_a, d)).alias("s1a"),
        F.sum(F.when(~is_a, d)).alias("s1b"),
        F.sum(F.when(is_a, d * d)).alias("s2a"),
        F.sum(F.when(~is_a, d * d)).alias("s2b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("s1a").cast("double") / na
    mb = F.col("s1b").cast("double") / nb
    va = (
        F.col("s2a").cast("double")
        - F.col("s1a").cast("double") * F.col("s1a").cast("double") / na
    ) / (na - 1)
    vb = (
        F.col("s2b").cast("double")
        - F.col("s1b").cast("double") * F.col("s1b").cast("double") / nb
    ) / (nb - 1)
    mde = F.lit(Z) * F.sqrt(va / na + vb / nb)
    n_req = F.least(
        F.ceil(
            F.lit(Z) * F.lit(Z) * (va + vb) / ((mb - ma) * (mb - ma))
        ),
        F.lit(1000000000000000.0),
    ).cast("long")
    return m.select(
        "n_a",
        "n_b",
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / ma, 6).alias("mde_rel"),
        n_req.alias("n_per_arm_for_lift"),
    )


def _prf_oracle() -> str:
    # reuse q39's generated SQL twin — ONE definition of the voting
    # semantics across q39/q259/q261
    return f"""
    WITH pred AS ({_langid_oracle()}),
    conf AS (
        SELECT lang AS truth, predicted_lang AS pred,
               COUNT(*)::BIGINT AS n
        FROM pred GROUP BY 1, 2),
    labels AS (
        SELECT truth AS label FROM conf
        UNION SELECT pred AS label FROM conf),
    stats AS (
        SELECT l.label,
               COALESCE((SELECT SUM(n) FROM conf
                         WHERE truth = l.label AND pred = l.label), 0)
                   ::BIGINT AS tp,
               COALESCE((SELECT SUM(n) FROM conf
                         WHERE pred = l.label AND truth <> l.label), 0)
                   ::BIGINT AS fp,
               COALESCE((SELECT SUM(n) FROM conf
                         WHERE truth = l.label AND pred <> l.label), 0)
                   ::BIGINT AS fn
        FROM labels l)
    SELECT label, tp, fp, fn,
           ROUND(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE tp::DOUBLE / (tp + fp)::DOUBLE END, 6)
               AS precision,
           ROUND(CASE WHEN tp + fn = 0 THEN 0.0
                      ELSE tp::DOUBLE / (tp + fn)::DOUBLE END, 6)
               AS recall,
           ROUND(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                      ELSE 2.0 * tp::DOUBLE
                           / (2 * tp + fp + fn)::DOUBLE END, 6) AS f1
    FROM stats ORDER BY label
    """


@q("q261_langid_class_prf", None)
def q261_langid_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the q39 language
    identifier against the ground-truth label — the class-level
    scorecard that q259's single kappa hides (a classifier can
    carry strong agreement while silently never predicting a rare
    class; per-class recall exposes it). Classes are the UNION of
    truth and predicted labels, so an over-predicted junk class
    ('und') appears with precision 0 rather than vanishing. Each
    metric is an exact BIGINT ratio finished by one IEEE division
    (F1 via the 2tp/(2tp+fp+fn) form — no float compounding through
    precision·recall), zero-denominator classes pinned to 0.0.
    Scale: one confusion aggregate (|langs|²-bounded), then
    label-bounded arithmetic."""
    from ..operators.textstats import lang_id

    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    pred = lang_id(docs, "text").select(
        F.col("lang").alias("truth"),
        F.col("predicted_lang").alias("pred"),
    )
    conf = pred.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    labels = (
        conf.select(F.col("truth").alias("label"))
        .union(conf.select(F.col("pred").alias("label")))
        .distinct()
    )
    tp = conf.where(F.col("truth") == F.col("pred")).select(
        F.col("truth").alias("label"), F.col("n").alias("tp")
    )
    fp = (
        conf.where(F.col("truth") != F.col("pred"))
        .groupBy(F.col("pred").alias("label"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.where(F.col("truth") != F.col("pred"))
        .groupBy(F.col("truth").alias("label"))
        .agg(F.sum("n").alias("fn"))
    )
    s = (
        labels.join(tp, "label", "left")
        .join(fp, "label", "left")
        .join(fn, "label", "left")
        .select(
            "label",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    tpd = F.col("tp").cast("double")
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        tpd / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        tpd / (F.col("tp") + F.col("fn")).cast("double")
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)
    ).otherwise(
        F.lit(2.0)
        * tpd
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
    )
    return s.select(
        "label",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("label")


ORACLES["q261_langid_class_prf"] = _prf_oracle()


@q(
    "q262_session_incident_overlap",
    """
    WITH ev AS (
        SELECT event_id, user_id, ts FROM events
        WHERE user_id IS NOT NULL),
    tagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > 1800000000 THEN 1
                    ELSE 0 END AS new_s,
               event_id
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT user_id, ts,
               (SUM(new_s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        FROM tagged),
    sess AS (
        SELECT user_id, session_idx,
               MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM s GROUP BY user_id, session_idx),
    inc AS (
        SELECT strftime(d, '%Y-%m-%d') AS incident_id,
               d::TIMESTAMP + INTERVAL 8 HOUR AS i_start,
               d::TIMESTAMP + INTERVAL 10 HOUR AS i_end
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)),
    pairs AS (
        SELECT i.incident_id, se.user_id, se.session_idx,
               (epoch_us(LEAST(se.s_end, i.i_end))
                - epoch_us(GREATEST(se.s_start, i.i_start))) AS ov_us
        FROM sess se JOIN inc i
          ON se.s_start <= i.i_end AND i.i_start <= se.s_end)
    SELECT incident_id,
           COUNT(*)::BIGINT AS n_sessions,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           (SUM(ov_us) // 1000000)::BIGINT AS total_overlap_sec
    FROM pairs GROUP BY incident_id ORDER BY incident_id
    """,
)
def q262_session_incident_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-×-interval OVERLAP join, end to end: the q133
    30-minute-gap user sessions (one interval per session) against
    daily 08:00-10:00 incident windows derived from the event
    calendar itself (fixture-regeneration-proof — no hardcoded
    dates), answering 'which sessions were impacted by which
    maintenance window, and for how long'. Runs
    `rangejoin.interval_overlap_join` — the bucketed equi-join scale
    path (both interval sets explode into covered hour buckets, the
    overlap predicate is a residual on a hash join, pair dups drop
    on the identifying keys) — never the all-pairs non-equi join.
    Overlap durations are exact integer microseconds (both bounds
    from the same normalized timestamps), summed as BIGINT, floor-
    divided once. The oracle recomputes sessions with q133's exact
    SQL twin and the overlap by the naive non-equi join —
    algorithm-independent ground truth; a bucket-boundary bug
    (session spanning hours, window touching the bucket edge)
    hash-mismatches the census."""
    from ..operators.rangejoin import interval_overlap_join
    from ..operators.sessionize import session_stats

    ev = table(spark, "events", sf_dir).where(F.col("user_id").isNotNull())
    sess = session_stats(
        ev.select("event_id", "user_id", "ts"),
        gap_minutes=30,
        order_tiebreak="event_id",
    ).select(
        "user_id",
        "session_idx",
        F.col("session_start").alias("s_start"),
        F.col("session_end").alias("s_end"),
    )
    inc = (
        ev.select(F.col("ts").cast("date").alias("d"))
        .distinct()
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("incident_id"),
            (F.col("d").cast("timestamp") + F.expr("INTERVAL 8 HOURS")).alias(
                "i_start"
            ),
            (F.col("d").cast("timestamp") + F.expr("INTERVAL 10 HOURS")).alias(
                "i_end"
            ),
        )
    )
    pairs = interval_overlap_join(
        sess,
        inc,
        "s_start",
        "s_end",
        "i_start",
        "i_end",
        left_keys=["user_id", "session_idx"],
        right_keys=["incident_id"],
        bucket="hour",
    )
    ov_us = F.unix_micros(
        F.least(F.col("s_end"), F.col("i_end"))
    ) - F.unix_micros(F.greatest(F.col("s_start"), F.col("i_start")))
    return (
        pairs.select("incident_id", "user_id", "session_idx", ov_us.alias("ov"))
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.expr("sum(ov) div 1000000").cast("long").alias(
                "total_overlap_sec"
            ),
        )
        .orderBy("incident_id")
    )


@q(
    "q263_readability_census",
    """
    WITH d AS (
        SELECT doc_id, source, lower(text) AS t,
               string_split(text, ' ') AS w
        FROM documents),
    m AS (
        SELECT doc_id, source,
               len(w)::BIGINT AS n_words,
               GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1)::BIGINT
                   AS n_sents,
               (len(regexp_extract_all(t, '[aeiouy]+'))
                + len(list_filter(w,
                      x -> NOT regexp_matches(lower(x), '[aeiouy]'))))
                   ::BIGINT AS n_syll
        FROM d),
    f AS (
        SELECT source,
               ROUND((206.835
                      - 1.015 * (n_words::DOUBLE / n_sents::DOUBLE)
                      - 84.6 * (n_syll::DOUBLE / n_words::DOUBLE))
                     * 10000)::BIGINT AS fre4,
               ROUND((0.39 * (n_words::DOUBLE / n_sents::DOUBLE)
                      + 11.8 * (n_syll::DOUBLE / n_words::DOUBLE)
                      - 15.59) * 10000)::BIGINT AS fkg4
        FROM m WHERE n_words > 0)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           ROUND(SUM(fre4)::DOUBLE / (10000.0 * COUNT(*)::DOUBLE), 4)
               AS mean_flesch,
           ROUND(SUM(fkg4)::DOUBLE / (10000.0 * COUNT(*)::DOUBLE), 4)
               AS mean_fk_grade
    FROM f GROUP BY source ORDER BY source
    """,
)
def q263_readability_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability census — Flesch reading ease and
    Flesch-Kincaid grade level (public formulas), the classic
    prose-complexity signal a curation pipeline mixes into its
    quality score (too-simple boilerplate and OCR word-salad both
    sit at the extremes). Syllables use the documented portable
    heuristic: vowel-group runs over the lowercased text plus one
    per vowel-less token (so 'xyz7' still counts a syllable) — all
    counting via RE2-portable regexp inside codegen, no UDF.
    Exactness: counts are BIGINT; each document's scores pin to
    1e-4 integers immediately (the q230/q252 discipline), so the
    per-source mean is an exact BIGINT sum with ONE final division —
    order-free, hash-exact. Scale: one narrow scan, map-side
    projections, one partial-combining census aggregate."""
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    t = F.lower(F.col("text"))
    w = F.split(F.col("text"), " ")
    n_words = F.size(w).cast("long")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    n_syll = (
        F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0))
        + F.size(
            F.filter(w, lambda x: ~F.lower(x).rlike("[aeiouy]"))
        )
    ).cast("long")
    m = docs.select(
        "source",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).where(F.col("n_words") > 0)
    wd = F.col("n_words").cast("double")
    sd = F.col("n_sents").cast("double")
    yd = F.col("n_syll").cast("double")
    fre4 = F.round(
        (
            F.lit(206.835)
            - F.lit(1.015) * (wd / sd)
            - F.lit(84.6) * (yd / wd)
        )
        * F.lit(10000)
    ).cast("long")
    fkg4 = F.round(
        (
            F.lit(0.39) * (wd / sd)
            + F.lit(11.8) * (yd / wd)
            - F.lit(15.59)
        )
        * F.lit(10000)
    ).cast("long")
    return (
        m.select("source", fre4.alias("fre4"), fkg4.alias("fkg4"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("fre4").cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)).cast("double")),
                4,
            ).alias("mean_flesch"),
            F.round(
                F.sum("fkg4").cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)).cast("double")),
                4,
            ).alias("mean_fk_grade"),
        )
        .orderBy("source")
    )


@q(
    "q264_winsorized_means",
    """
    WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL),
    cut AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM ev GROUP BY event_type),
    w AS (
        SELECT e.event_type, e.value, c.lo, c.hi,
               LEAST(GREATEST(e.value, c.lo), c.hi) AS wv
        FROM ev e JOIN cut c USING (event_type))
    SELECT event_type, COUNT(*)::BIGINT AS n,
           ROUND(ANY_VALUE(lo), 6) AS p05,
           ROUND(ANY_VALUE(hi), 6) AS p95,
           ROUND(SUM(ROUND(wv * 1000000)::BIGINT)::DOUBLE
                 / (1000000.0 * COUNT(*)::DOUBLE), 6) AS winsorized_mean,
           ROUND(SUM(CASE WHEN value >= lo AND value <= hi
                          THEN ROUND(value * 1000000)::BIGINT
                          ELSE 0 END)::DOUBLE
                 / (1000000.0
                    * SUM(CASE WHEN value >= lo AND value <= hi
                               THEN 1 ELSE 0 END)::DOUBLE), 6)
               AS trimmed_mean
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def q264_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means per event type (5%/95%
    cutpoints) — the robust-location pair that completes q165's
    median/MAD: winsorizing clamps tails (keeps n), trimming drops
    them — the standard treatment before averaging telemetry with
    fat tails. Exactness: cutpoints are the q165/q71 exact
    interpolated percentile (`F.percentile` ≡ `quantile_cont`);
    clamp and the in-range predicate are single IEEE ops in fixed
    order; each surviving value pins to a 1e-6 integer BEFORE
    summing (the q263 discipline) so per-group means are order-free
    with ONE final division each. Scale: one percentile pass + one
    partial-combining aggregate, cutpoints broadcast back on the
    |event_types|-row dim; at 100 TB swap the exact percentile for
    approx_percentile (the documented q71/q50 escape hatch)."""
    ev = (
        table(spark, "events", sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    cut = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    w = ev.join(F.broadcast(cut), "event_type")
    wv = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    in_rng = (F.col("value") >= F.col("lo")) & (
        F.col("value") <= F.col("hi")
    )
    wv6 = F.round(wv * F.lit(1000000)).cast("long")
    v6 = F.round(F.col("value") * F.lit(1000000)).cast("long")
    agg = w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.any_value("lo"), 6).alias("p05"),
        F.round(F.any_value("hi"), 6).alias("p95"),
        F.sum(wv6).alias("ws"),
        F.sum(F.when(in_rng, v6).otherwise(F.lit(0))).alias("ts"),
        F.sum(in_rng.cast("long")).alias("tn"),
    )
    return agg.select(
        "event_type",
        "n",
        "p05",
        "p95",
        F.round(
            F.col("ws").cast("double")
            / (F.lit(1000000.0) * F.col("n").cast("double")),
            6,
        ).alias("winsorized_mean"),
        F.round(
            F.col("ts").cast("double")
            / (F.lit(1000000.0) * F.col("tn").cast("double")),
            6,
        ).alias("trimmed_mean"),
    ).orderBy("event_type")


_JACCARD_SWEEP_SQL = f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT c * 1.0 / (sa.n + sb.n - c) AS jac
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.3
    )
    SELECT LEAST(FLOOR(jac * 10), 9)::INT AS bin,
           COUNT(*)::BIGINT AS n_pairs
    FROM j GROUP BY 1 ORDER BY bin
"""


@q("q265_jaccard_threshold_sweep", _JACCARD_SWEEP_SQL)
def q265_jaccard_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup similarity S-curve: the pair-count histogram over
    Jaccard bands [0.3,0.4) … [0.9,1.0] — the distribution an
    engineer reads to PICK the dedup threshold (a bimodal histogram
    says 0.7 is safe; mass piled at the cut says the threshold is
    splitting a dup family). One pass of the q33 exact machinery at
    the lower bound: candidates are pairs sharing ≥1 shingle —
    COMPLETE for any positive Jaccard, so no recall caveat — scored
    with exact set arithmetic, then bucketed by FLOOR(j·10) (the
    same IEEE division both engines compute, so bucket assignment is
    bit-deterministic; j=1.0 clamps into the top band). Scale:
    identical posture to q33 (shingle-projection shuffles only,
    never text), one extra |pairs|-row census aggregate; at a lower
    bound the candidate set grows — production sweeps sample doc
    pairs per band rather than lowering the bound to 0."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.3
    )
    return (
        pairs.select(
            F.least(
                F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


@q(
    "q266_durbin_watson",
    """
    WITH daily AS (
        SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS di,
               (SUM(value::DECIMAL(28,6)))::DOUBLE AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
    m AS (
        SELECT COUNT(*)::BIGINT AS n,
               (SUM(di::DECIMAL(28,0)))::DOUBLE AS sx,
               (SUM((ROUND(y * 1000000))::DECIMAL(38,0)))::DOUBLE
                   / 1000000.0 AS sy,
               (SUM((di * di)::DECIMAL(38,0)))::DOUBLE AS sxx,
               (SUM(di::DECIMAL(28,0) * (ROUND(y * 1000000))::DECIMAL(38,0)))
                   ::DOUBLE / 1000000.0 AS sxy
        FROM daily),
    fit AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n
                   AS icept
        FROM m),
    res AS (
        SELECT di,
               ROUND((y - (f.icept + f.slope * di)) * 1000000)::BIGINT
                   AS e6,
               f.n
        FROM daily, fit f),
    lagd AS (
        SELECT n, e6,
               LAG(e6) OVER (ORDER BY di) AS p6
        FROM res)
    SELECT ANY_VALUE(n) AS n_days,
           ROUND(SUM(CASE WHEN p6 IS NULL THEN 0::DECIMAL(38,0)
                          ELSE ((e6 - p6)::DECIMAL(38,0)) * (e6 - p6)
                     END)::DOUBLE
                 / SUM((e6::DECIMAL(38,0)) * e6)::DOUBLE, 6)
               AS durbin_watson
    FROM lagd
    """,
)
def q266_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic on the residuals of
    the daily-revenue OLS trend — the standard 'is a straight line
    actually a defensible model for this series' check that belongs
    next to q228 (the fit), q169 (raw autocorrelation) and q255 (the
    robust slope): DW ≈ 2 means independent residuals, → 0 strong
    positive autocorrelation (seasonality the trend missed). All on
    the calendar-bounded daily aggregate. Exactness: daily sums are
    decimal; the OLS moment chain is q228's fixed IEEE order with
    1e-6-pinned y-moments; residuals pin to 1e-6 integers
    immediately, so the numerator Σ(Δe)² and denominator Σe² are
    EXACT BIGINT sums (order-free) and DW is one division. Scale:
    one fact aggregate; the lag window runs over bounded days."""
    ev = table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("di")
    ).agg(
        fastdec.dec_sum(F.col("value"))
        .cast("double")
        .alias("y")
    )
    d0, d1 = "decimal(28,0)", "decimal(38,0)"
    y6 = F.round(F.col("y") * 1000000).cast(d1)
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("di").cast(d0)).cast("double").alias("sx"),
        (F.sum(y6).cast("double") / F.lit(1000000.0)).alias("sy"),
        F.sum((F.col("di") * F.col("di")).cast(d1))
        .cast("double")
        .alias("sxx"),
        (
            F.sum(F.col("di").cast(d0) * y6).cast("double")
            / F.lit(1000000.0)
        ).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    fit = m.select(
        "n",
        slope.alias("slope"),
        ((sy - sx * slope) / n).alias("icept"),
    )
    res = daily.crossJoin(F.broadcast(fit)).select(
        "di",
        "n",
        F.round(
            (F.col("y") - (F.col("icept") + F.col("slope") * F.col("di")))
            * 1000000
        )
        .cast("long")
        .alias("e6"),
    )
    w = Window.orderBy("di")
    lagd = res.withColumn("p6", F.lag("e6").over(w))
    d38 = "decimal(38,0)"
    de = (F.col("e6") - F.col("p6")).cast(d38)
    return lagd.agg(
        F.any_value("n").alias("n_days"),
        F.round(
            F.sum(
                F.when(
                    F.col("p6").isNull(), F.lit(0).cast(d38)
                ).otherwise(de * (F.col("e6") - F.col("p6")))
            ).cast("double")
            / F.sum(F.col("e6").cast(d38) * F.col("e6")).cast("double"),
            6,
        ).alias("durbin_watson"),
    )


@q(
    "q267_leadlag_crosscorrelation",
    """
    WITH daily AS (
        SELECT event_type AS t,
               (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS di,
               COUNT(*)::BIGINT AS c
        FROM events GROUP BY 1, 2),
    lags AS (SELECT l FROM range(-3, 4) r(l)),
    j AS (
        SELECT a.t AS type_a, b.t AS type_b, lg.l AS lag,
               a.c AS x, b.c AS y
        FROM daily a
        CROSS JOIN lags lg
        JOIN daily b
          ON b.di = a.di - lg.l AND a.t < b.t),
    m AS (
        SELECT type_a, type_b, lag,
               COUNT(*)::BIGINT AS n_days,
               (SUM(x::DECIMAL(28,0)))::DOUBLE AS sx,
               (SUM(y::DECIMAL(28,0)))::DOUBLE AS sy,
               (SUM((x * x)::DECIMAL(38,0)))::DOUBLE AS sxx,
               (SUM((y * y)::DECIMAL(38,0)))::DOUBLE AS syy,
               (SUM((x * y)::DECIMAL(38,0)))::DOUBLE AS sxy
        FROM j GROUP BY 1, 2, 3)
    SELECT type_a, type_b, lag, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / (sqrt(n_days * sxx - sx * sx)
                    * sqrt(n_days * syy - sy * sy)), 6) AS xcorr
    FROM m WHERE n_days >= 3
    ORDER BY type_a, type_b, lag
    """,
)
def q267_leadlag_crosscorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lead-lag cross-correlation matrix between event types'
    daily-volume series (lags −3..+3) — the discovery query behind
    'do clicks lead purchases by two days?': for every ordered type
    pair and lag, the Pearson correlation of the two aligned daily
    series. Completes the time-series family (q169 is a series
    against ITSELF; this is every pair against every other, with
    direction). Exactness: daily counts are BIGINT, the five moment
    sums accumulate as DECIMAL (order-free), and the finish is the
    q118/q239 fixed IEEE chain rounded once; pairs with under 3
    aligned days are suppressed (undefined/degenerate corr). Scale:
    one fact aggregate to (type, day) — calendar-bounded — then a
    7-row broadcast lag spine and an equi-join on the derived day
    key; every downstream row count is |types|²·|lags|-bounded."""
    ev = table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.col("event_type").alias("t"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("di"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a = daily.alias("a")
    b = daily.alias("b")
    j = (
        a.crossJoin(F.broadcast(lags))  # 7-row spine by contract
        .join(
            b,
            (F.col("b.di") == F.col("a.di") - F.col("lag"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .select(
            F.col("a.t").alias("type_a"),
            F.col("b.t").alias("type_b"),
            "lag",
            F.col("a.c").alias("x"),
            F.col("b.c").alias("y"),
        )
    )
    d0, d1 = "decimal(28,0)", "decimal(38,0)"
    m = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("x").cast(d0)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d0)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d1))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d1))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(d1))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_days")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return (
        m.where(n >= 3)
        .select(
            "type_a",
            "type_b",
            "lag",
            "n_days",
            F.round(num / den, 6).alias("xcorr"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


@q(
    "q268_forecast_backtest",
    """
    WITH daily AS (
        SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS di,
               SUM(value::DECIMAL(28,6)) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
    mx AS (SELECT MAX(di) AS mdi FROM daily),
    scored AS (
        SELECT m.model, a.di,
               a.y AS actual, f.y AS forecast,
               ABS(a.y - f.y) AS abs_err,
               ROUND(2000000.0 * ABS(a.y - f.y)::DOUBLE
                     / (ABS(a.y)::DOUBLE + ABS(f.y)::DOUBLE))::BIGINT
                   AS sm6
        FROM daily a
        CROSS JOIN mx
        JOIN (SELECT 'naive_1d' AS model, 1 AS h
              UNION ALL SELECT 'seasonal_7d', 7) m ON TRUE
        JOIN daily f ON f.di = a.di - m.h
        WHERE a.di > mx.mdi - 7)
    SELECT model, COUNT(*)::BIGINT AS n_days,
           ROUND(SUM(abs_err)::DOUBLE / COUNT(*)::DOUBLE, 6) AS mae,
           ROUND(SUM(sm6)::DOUBLE / (10000.0 * COUNT(*)::DOUBLE), 6)
               AS smape_pct
    FROM scored GROUP BY model ORDER BY model
    """,
)
def q268_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest scorecard over the last week of daily
    revenue: the naive (yesterday) and seasonal-naive (same weekday
    last week) forecasters scored with MAE and sMAPE — the baseline
    pair every forecasting system must beat before it earns compute
    (and the standard way q168's forecast shape gets validated).
    Exactness: daily sums and absolute errors stay DECIMAL end to
    end (MAE is a decimal mean cast once); each day's symmetric-
    error ratio is one fixed IEEE chain pinned to 1e-6 integers
    before averaging (the q263 discipline), so both metrics are
    order-free with one final division. Scale: one fact aggregate to
    the calendar-bounded daily table, a 1-row max broadcast, a
    2-row model spine, and self-joins on the derived day key."""
    ev = table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("di")
    ).agg(fastdec.dec_sum(F.col("value")).alias("y"))
    mx = daily.agg(F.max("di").alias("mdi"))
    models = local_frame(
        spark, [("naive_1d", 1), ("seasonal_7d", 7)], "model string, h int"
    )
    a = daily.alias("a")
    f = daily.alias("f")
    scored = (
        a.crossJoin(F.broadcast(mx))
        .where(F.col("a.di") > F.col("mdi") - 7)
        .crossJoin(F.broadcast(models))  # 2-row spine by contract
        .join(f, F.col("f.di") == F.col("a.di") - F.col("h"))
        .select(
            "model",
            F.abs(F.col("a.y") - F.col("f.y")).alias("abs_err"),
            F.round(
                F.lit(2000000.0)
                * F.abs(F.col("a.y") - F.col("f.y")).cast("double")
                / (
                    F.abs(F.col("a.y")).cast("double")
                    + F.abs(F.col("f.y")).cast("double")
                )
            )
            .cast("long")
            .alias("sm6"),
        )
    )
    return (
        scored.groupBy("model")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("abs_err").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mae"),
            F.round(
                F.sum("sm6").cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)).cast("double")),
                6,
            ).alias("smape_pct"),
        )
        .orderBy("model")
    )


# rows-only: zlib byte streams aren't reproducible in SQL — the
# census is attested by closed-form pytest fixtures instead
# (test_textstats_bpe.py::test_compression_ratio_*)
@q("q269_compression_ratio_census")
def q269_compression_ratio_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source compression-ratio quality census — the classic
    corpus-hygiene heuristic (Gopher's repetition rules, RedPajama
    filters): highly compressible text is repetitive boilerplate,
    nearly-incompressible text is often binary junk or ciphertext;
    both tails get reviewed before training. deflate(level 6) per
    document inside one Arrow `mapInPandas` stage (stdlib zlib — a
    real compressor, not a proxy), then a partial-combining census:
    per source, n docs, mean ratio (1e-6-pinned, order-free), min /
    max, and the share under 0.3 (the 'suspiciously repetitive'
    band; complements q61's token-level repetition ratio with a
    whole-byte-stream measure). Rows-only by design: no SQL engine
    reproduces deflate streams — correctness is pinned by pytest
    closed forms (constant text compresses under 0.1, random hex
    stays above 0.5, ratios deterministic). Scale: payload-local
    compute, only (source, ratio6) ever shuffles."""
    import pandas as pd

    docs = table(spark, "documents", sf_dir).select("source", "text")

    def run(batches):
        import zlib

        for pdf in batches:
            ratios = []
            for t in pdf["text"]:
                raw = (t or "").encode("utf-8")
                if not raw:
                    ratios.append(None)
                    continue
                comp = zlib.compress(raw, 6)
                ratios.append(round(1e6 * len(comp) / len(raw)))
            yield pd.DataFrame(
                {"source": pdf["source"], "r6": ratios}
            )

    scored = docs.mapInPandas(run, "source string, r6 long").where(
        F.col("r6").isNotNull()
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("r6").cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double")),
                6,
            ).alias("mean_ratio"),
            F.round(F.min("r6").cast("double") / 1000000.0, 6).alias(
                "min_ratio"
            ),
            F.round(F.max("r6").cast("double") / 1000000.0, 6).alias(
                "max_ratio"
            ),
            F.sum((F.col("r6") < 300000).cast("long")).alias(
                "n_under_03"
            ),
        )
        .orderBy("source")
    )


# rows-only: PAVA block means are float averages — no SQL twin; the
# algorithm is pinned by a pure-Python replica test
# (test_groupstats.py::test_isotonic_*)
@q("q270_isotonic_calibration")
def q270_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source isotonic calibration audit of the q38 quality
    score against a binary outcome (label ≥ 5 on the aligned
    embeddings row): `groupstats.isotonic_fit_stats` fits the
    monotone score→outcome map with pool-adjacent-violators inside
    one `applyInPandas` stage per source and reports the
    calibration diagnostics (n, monotone blocks, MSE before/after) —
    the Zadrozny-Elkan step that turns a raw curation score into an
    empirical probability, and the audit that says whether the
    score ranks outcomes at all (mse_after ≈ mse_before ⇒ it
    doesn't). Rows-only by design (pooled means are float
    averages); the PAVA itself is pinned by a pure-Python replica
    test plus monotonicity/MSE-dominance properties. Scale: one
    (source, score, y) projection shuffle; per-group O(n) PAVA;
    1-row diagnostics leave each worker."""
    from ..operators.groupstats import isotonic_fit_stats

    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    emb = table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    joined = docs.select("doc_id", "source", "quality_score").join(
        emb, "doc_id"
    )
    return isotonic_fit_stats(
        joined, "source", "quality_score", "y"
    ).orderBy("source")


@q(
    "q271_budget_greedy_selection",
    """
    WITH scored AS (
        SELECT doc_id, source,
               __QUALITY_SCORE__ AS q,
               len(string_split(text, ' '))::BIGINT AS tk
        FROM documents),
    cum AS (
        SELECT doc_id, source, tk,
               SUM(tk) OVER (ORDER BY q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS rt
        FROM scored)
    SELECT source, COUNT(*)::BIGINT AS n_kept,
           SUM(tk)::BIGINT AS tokens_kept
    FROM cum WHERE rt <= 100000
    GROUP BY source ORDER BY source
    """,
)
def q271_budget_greedy_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Budget-capped greedy curation: take documents best-quality-
    first until a 100k-token budget is exhausted — the selection
    rule that ships a fixed-size training slice from an oversized
    candidate pool (complements q101/q196, which APPORTION a budget
    across sources; this one SPENDS it greedily across the whole
    corpus). The global running token total comes from
    `groupstats.ordered_prefix_sum` — the q58/q195 partition-offset
    pattern extended to SUMS — so the cumulative order
    (quality DESC, doc_id) costs a range shuffle + nparts-parallel
    local windows, never the single-task `Window.orderBy` the naive
    plan (and the oracle) uses. Exactness: the 4-dp pinned quality
    score makes the order total and engine-portable, token counts
    are BIGINT, the prefix accumulates in DECIMAL; the kept set is
    therefore bit-identical and the per-source census hash-matches.
    Output stays census-sized; the kept doc ids are a projection
    away for the export path."""
    from ..operators.groupstats import ordered_prefix_sum

    docs = textstats.quality_score(table(spark, "documents", sf_dir))
    scored = docs.select(
        "doc_id",
        "source",
        "quality_score",
        F.size(F.split("text", " ")).cast("long").alias("tk"),
    )
    cum = ordered_prefix_sum(
        scored,
        [F.desc("quality_score"), F.asc("doc_id")],
        "tk",
        out_col="rt",
        inclusive=True,
    )
    return (
        cum.where(F.col("rt") <= 100000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("tk").cast("long").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def _capture_recapture_oracle() -> str:
    # the q33 jaccard CTEs and the q35 simhash CTEs off ONE shingle
    # definition (same generator expressions as _simhash_oracle)
    shi = ", ".join(
        f"SUM(((hi // {1 << k}) % 2) * 2 - 1) AS shi{k}, "
        f"SUM(((lo // {1 << k}) % 2) * 2 - 1) AS slo{k}"
        for k in range(32)
    )
    hi_sig = " + ".join(
        f"CASE WHEN shi{k} >= 0 THEN {1 << k} ELSE 0 END" for k in range(32)
    )
    lo_sig = " + ".join(
        f"CASE WHEN slo{k} >= 0 THEN {1 << k} ELSE 0 END" for k in range(32)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    jp AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7),
    hs AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS lo
        FROM sh),
    sums AS (SELECT doc_id, {shi} FROM hs GROUP BY doc_id),
    sig AS (SELECT doc_id, ({hi_sig})::BIGINT AS sim_hi,
                   ({lo_sig})::BIGINT AS sim_lo FROM sums),
    sp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_hi, b.sim_hi))
              + bit_count(xor(a.sim_lo, b.sim_lo)) <= 6),
    u AS (
        SELECT COALESCE(jp.doc_a, sp.doc_a) AS doc_a,
               (jp.doc_a IS NOT NULL)::INT AS in_a,
               (sp.doc_a IS NOT NULL)::INT AS in_b
        FROM jp FULL JOIN sp
          ON jp.doc_a = sp.doc_a AND jp.doc_b = sp.doc_b)
    SELECT SUM(in_a)::BIGINT AS n_jaccard,
           SUM(in_b)::BIGINT AS n_simhash,
           SUM(in_a * in_b)::BIGINT AS n_both,
           ROUND(SUM(in_a * in_b)::DOUBLE
                 / (SUM(in_a)::DOUBLE + SUM(in_b)::DOUBLE
                    - SUM(in_a * in_b)::DOUBLE), 4) AS set_jaccard,
           ROUND((SUM(in_a)::DOUBLE + 1.0) * (SUM(in_b)::DOUBLE + 1.0)
                 / (SUM(in_a * in_b)::DOUBLE + 1.0) - 1.0, 2)
               AS chapman_estimate
    FROM u
    """


@q("q272_dedup_capture_recapture", None)
def q272_dedup_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-detector dedup coverage audit with a Chapman
    capture-recapture estimate: run BOTH near-dup detectors — the
    q33 n-gram Jaccard at j≥0.7 and q35's SimHash at hamming≤6 —
    over the same corpus, count each pair set, their overlap, the
    pair-set Jaccard, and the Chapman estimator
    (n1+1)(n2+1)/(m+1) − 1 of the total near-dup pair population —
    the dedup-QA trick for sizing what BOTH detectors miss (with the
    standard caveat, stated in the docstring a consumer reads: the
    estimator assumes independent detectors, and these two are
    positively correlated, so it UNDERESTIMATES — still the standard
    lower-bound sanity number). Detector A is the EXACT Jaccard
    kernel, not the MinHash+LSH path (ADVICE r9): the query is a
    coverage audit, so its oracle parity must not ride on LSH
    banding recall (≈1−4e−10 at j=0.7 on today's fixture, but a
    fixture regeneration could plant a banding miss that fails
    parity confusingly — q34 is where the LSH path itself is
    attested against the same exact oracle). Exactness: both pair
    sets are the already-oracled exact kernels; counts are BIGINT;
    the estimate and set-jaccard are one IEEE chain each. Scale: the
    two detectors share the shingle projection; the overlap is a
    pair-key full join of two already-small pair sets."""
    docs = table(spark, "documents", sf_dir)
    # the two detectors are independent — run both kernels eagerly on
    # two driver threads so their stages overlap instead of running
    # back to back (guide §2.6; the jaccard kernel already ends in a
    # localCheckpoint, the simhash side gets one so the thread
    # actually materializes it)
    from pyspark import inheritable_thread_target
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_a = pool.submit(
            inheritable_thread_target(spark)(
                lambda: dedup.ngram_jaccard_pairs(
                    docs, "text", "doc_id", n=5, threshold=0.7
                )
            )
        )
        f_b = pool.submit(
            inheritable_thread_target(spark)(
                lambda: dedup.simhash_pairs(
                    docs, "text", "doc_id", n=5, max_hamming=6
                ).localCheckpoint()
            )
        )
        a = f_a.result().select("doc_a", "doc_b", F.lit(1).alias("in_a"))
        b = f_b.result().select("doc_a", "doc_b", F.lit(1).alias("in_b"))
    u = a.join(b, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    n1 = F.sum("in_a").cast("long")
    n2 = F.sum("in_b").cast("long")
    m = F.sum(F.col("in_a") * F.col("in_b")).cast("long")
    agg = u.agg(
        n1.alias("n_jaccard"), n2.alias("n_simhash"), m.alias("n_both")
    )
    n1d = F.col("n_jaccard").cast("double")
    n2d = F.col("n_simhash").cast("double")
    md = F.col("n_both").cast("double")
    return agg.select(
        "n_jaccard",
        "n_simhash",
        "n_both",
        F.round(md / (n1d + n2d - md), 4).alias("set_jaccard"),
        F.round(
            (n1d + F.lit(1.0)) * (n2d + F.lit(1.0)) / (md + F.lit(1.0))
            - F.lit(1.0),
            2,
        ).alias("chapman_estimate"),
    )


ORACLES["q272_dedup_capture_recapture"] = _capture_recapture_oracle()
