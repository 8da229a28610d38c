"""Training-data pipeline declared queries over documents/embeddings.

Spark-native extensions (per the build brief): deduplication, text
analysis, similarity search. SQL-expressible variants carry DuckDB
oracles; the sketch-based ones (MinHash-LSH, SimHash) register with
rows-only checks where DuckDB can't express them faithfully.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, similarity, text
from . import register

# Oracle twin of ``similarity.drop_invalid_embeddings(dims=64)`` — the
# r12 invalid-vector contract (NULL row / NULL component / NaN / ±Inf /
# wrong length). Interpolated, never inlined as a literal, so plan and
# oracle cannot silently diverge; the zero-norm clause of
# ``drop_unsearchable`` is applied as ``list_dot_product(qv, qv) > 0``
# on a NESTED subquery because SQL does not guarantee conjunct order —
# evaluating the quantize cast on a NaN row would crash DuckDB before
# the finite guard runs.
_EMB_OK = (
    "embedding IS NOT NULL AND len(embedding) = 64 AND "
    "list_bool_and(list_transform(embedding, "
    "x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE))))"
)
# Aggregate-class twin of ``similarity.drop_nonfinite_embeddings``:
# NULL rows and ragged rows stay, crash-class non-finite rows go.
_EMB_FINITE_OR_NULL = (
    "(embedding IS NULL OR list_bool_and(list_transform(embedding, "
    "x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE)))))"
)


@register(
    "docs_exact_dup_groups",
    """
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY content_hash
    """,
    doc="Exact dedup: hash-groupBy on content digest; keeps min doc_id "
    "per group (map-side combinable; the 100 TB-scale default dedup).",
    bench=True,
)
def docs_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs).orderBy("content_hash")


@register(
    "docs_fingerprints",
    """
    SELECT doc_id, md5(text) AS fingerprint FROM documents
    WHERE doc_id < 100 ORDER BY doc_id
    """,
    doc="Document fingerprinting (digest-based identity column).",
)
def docs_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dedup.fingerprint(docs).select("doc_id", "fingerprint").orderBy("doc_id")


@register(
    "docs_token_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS BIGINT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
    doc="Token counting (whitespace tokenizer as a pure column "
    "expression — stays in whole-stage codegen).",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs).select("doc_id", "n_chars_actual", "n_tokens")


@register(
    "docs_lang_source_rollup",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    doc="Corpus composition rollup (language × source).",
)
def docs_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("long").alias("total_chars"))
        .orderBy("lang", "source")
    )


@register(
    "ann_cosine_top5",
    f"""
    WITH q AS (SELECT seed, qv FROM (
                 SELECT vec_id AS seed,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                 FROM embeddings WHERE vec_id < 20 AND {_EMB_OK})
               WHERE list_dot_product(qv, qv) > 0),
         c AS (SELECT neighbor, cv FROM (
                 SELECT vec_id AS neighbor,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
                 FROM embeddings WHERE {_EMB_OK})
               WHERE list_dot_product(cv, cv) > 0),
         s AS (SELECT seed, neighbor,
                      list_dot_product(qv, cv)
                      / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS score
               FROM q CROSS JOIN c WHERE neighbor <> seed)
    SELECT seed, neighbor, score, rk FROM (
      SELECT seed, neighbor, score,
             ROW_NUMBER() OVER (PARTITION BY seed ORDER BY score DESC, neighbor) AS rk
      FROM s)
    WHERE rk <= 5 ORDER BY seed, rk
    """,
    doc="Similarity search baseline: exact top-5 cosine neighbors per "
    "seed over quantized embeddings (integer dot products → "
    "order-independent, engine-exact doubles). r8: quantization moved "
    "INTO the Arrow batch (similarity._np_quantize — proof-exact "
    "HALF_UP twin of the SQL round), deleting the interpreted "
    "transform lambda from the corpus path (was 0.71 s of 1.24 s at "
    "sf1; 1.24 s -> 1.06 s measured end-to-end). Remaining sf1 floor "
    "is per-job scheduling (~0.2 s x 5 jobs: seed collect, scan, "
    "scorer, window, sort) — vanishes at volume; LSH "
    "(ann_lsh_md5_top5) and IVF (ann_ivf_fixed_top5) are the scale "
    "paths that avoid scoring the full corpus per seed.",
    bench=True,
)
def ann_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.cosine_topk_bruteforce(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "docs_embedding_near_dup",
    f"""
    WITH q AS (SELECT vec_id, qv FROM (
                 SELECT vec_id,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                 FROM embeddings WHERE {_EMB_OK})
               WHERE list_dot_product(qv, qv) > 0)
    SELECT a.vec_id AS a, b.vec_id AS b,
           list_dot_product(a.qv, b.qv)
           / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS score
    FROM q a JOIN q b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.qv, b.qv)
          / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) >= 0.4
    ORDER BY a, b
    """,
    doc="Embedding-cosine near-duplicate pairs (exact all-pairs verify; "
    "the dedup ladder's last rung). Quantized integer dot products make "
    "scores engine-exact. Scale path: `docs_embedding_near_dup_lsh`.",
)
def docs_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup(emb, threshold=0.4).orderBy("a", "b")


@register(
    "docs_embedding_near_dup_lsh",
    None,  # LSH candidate generation → rows-only (recall asserted in tests)
    doc="Embedding near-dup at scale: LSH-bucketed candidate pairs + the "
    "same exact-cosine verify — the (band, bucket) join replaces the "
    "corpus² cross product.",
)
def docs_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_lsh(emb, threshold=0.4).orderBy("a", "b")


@register(
    "ann_lsh_top5",
    None,  # LSH candidate generation is not faithfully SQL-expressible → rows-only
    doc="Similarity search scale path: random-hyperplane LSH bucket join "
    "+ exact scoring of candidates only (recall vs brute force is "
    "asserted in tests/test_pipeline.py).",
    bench=True,  # the 100 TB ANN path belongs in the headline set
)
def ann_lsh_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.lsh_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


def _lsh_oracle_sql(bands: int, planes_per_band: int, dims: int, seed: int) -> str:
    """Oracle SQL for the SMALL-CONFIG LSH-ANN: the md5-derived hyperplane
    sign matrix is a pure constant per (seed, plane, dim), so it embeds in
    the SQL as a VALUES list — the SAME banding/bucketing/verify pipeline
    the Spark operator runs, re-implemented relationally. Retires the
    "LSH is not SQL-expressible" caveat at small config (the production
    16-band/64-plane twin `ann_lsh_top5` stays rows-only)."""
    from ..operators.similarity import _plane_signs

    n_planes = bands * planes_per_band
    rows = ",\n      ".join(
        f"({p}, {_plane_signs(p, dims, seed)})" for p in range(n_planes)
    )
    return f"""
    WITH q AS (SELECT vec_id, qv FROM (
                 SELECT vec_id,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                 FROM embeddings WHERE {_EMB_OK})
               WHERE list_dot_product(qv, qv) > 0),
    planes AS (SELECT * FROM (VALUES
      {rows}) AS t(plane, signs)),
    sig AS (
      SELECT q.vec_id, p.plane,
             CASE WHEN list_dot_product(q.qv, p.signs) >= 0 THEN 1 ELSE 0 END AS bit
      FROM q CROSS JOIN planes p),
    buckets_all AS (
      SELECT vec_id, plane // {planes_per_band} AS band,
             CAST(SUM(bit << (plane % {planes_per_band})) AS INTEGER) AS bucket
      FROM sig GROUP BY vec_id, plane // {planes_per_band}),
    buckets AS (
      -- mirror the engine's oversized-bucket drop (quadratic guard)
      SELECT vec_id, band, bucket FROM buckets_all
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {similarity.MAX_BUCKET_DEFAULT}),
    seedb AS (SELECT vec_id AS seed, band, bucket FROM buckets WHERE vec_id < 20),
    cand AS (SELECT DISTINCT s.seed, b.vec_id AS neighbor
             FROM seedb s JOIN buckets b
               ON s.band = b.band AND s.bucket = b.bucket
             WHERE b.vec_id <> s.seed),
    scored AS (
      SELECT c.seed, c.neighbor,
             list_dot_product(qs.qv, qc.qv)
             / sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(qc.qv, qc.qv)) AS score
      FROM cand c
      JOIN q qs ON qs.vec_id = c.seed
      JOIN q qc ON qc.vec_id = c.neighbor)
    SELECT seed, neighbor, score, rk FROM (
      SELECT seed, neighbor, score,
             ROW_NUMBER() OVER (PARTITION BY seed ORDER BY score DESC, neighbor) AS rk
      FROM scored)
    WHERE rk <= 5 ORDER BY seed, rk
    """


@register(
    "ann_lsh_md5_top5",
    _lsh_oracle_sql(bands=4, planes_per_band=4, dims=64, seed=42),
    doc="LSH-ANN with a fully ORACLE-CHECKED candidate pipeline at small "
    "config (4 bands × 4 planes): the seeded-md5 hyperplane signs embed "
    "in the oracle SQL as constants, so signature → band-bucket join → "
    "exact verify is hash-compared end-to-end against DuckDB running "
    "the identical algorithm (same trick as docs_minhash_md5_candidates)."
    " The production config stays `ann_lsh_top5` (rows-only + recall "
    "tests).",
)
def ann_lsh_md5_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.lsh_ann_topk(
        emb, seeds, k=5, planes_per_band=4, bands=4, dims=64, seed=42
    ).orderBy("seed", "rk")


@register(
    "ann_ivf_fixed_top5",
    f"""
    WITH q AS (SELECT vec_id, qv FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings WHERE {_EMB_OK})
          WHERE list_dot_product(qv, qv) > 0),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, qv AS ccv
             FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(v.qv, v.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q v CROSS JOIN cent c)
      WHERE rk = 1),
    probes AS (
      SELECT seed, cell_id FROM (
        SELECT s.vec_id AS seed, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                 list_dot_product(s.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(s.qv, s.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q s CROSS JOIN cent c WHERE s.vec_id < 20)
      WHERE rk <= 3),
    cand AS (SELECT DISTINCT p.seed, a.vec_id AS neighbor
             FROM probes p JOIN assign a USING (cell_id)
             WHERE a.vec_id <> p.seed),
    scored AS (
      SELECT c.seed, c.neighbor,
             list_dot_product(qs.qv, qc.qv)
             / sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(qc.qv, qc.qv)) AS score
      FROM cand c
      JOIN q qs ON qs.vec_id = c.seed
      JOIN q qc ON qc.vec_id = c.neighbor)
    SELECT seed, neighbor, score, rk FROM (
      SELECT seed, neighbor, score,
             ROW_NUMBER() OVER (PARTITION BY seed ORDER BY score DESC, neighbor) AS rk
      FROM scored)
    WHERE rk <= 5 ORDER BY seed, rk
    """,
    doc="IVF-ANN with a fully ORACLE-CHECKED pipeline at small config "
    "(8 fixed cells / 3 probes): portable first-K centroids "
    "(`similarity.ivf_fixed_centroids`) make assign → probe → verify "
    "SQL-expressible, so DuckDB replays the identical algorithm and the "
    "hash-compare covers candidate generation end-to-end (the "
    "hash-sampled production config stays `ann_ivf_top5`, rows-only + "
    "recall tests).",
)
def ann_ivf_fixed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    cent = similarity.ivf_fixed_centroids(emb, n_cells=8)
    return similarity.ivf_ann_topk(
        emb, seeds, k=5, n_probe=3, centroids=cent
    ).orderBy("seed", "rk")


@register(
    "ann_ivf_top5",
    None,  # IVF candidate generation → rows-only (recall asserted in tests)
    doc="Similarity search scale path #2: IVF coarse quantizer — "
    "assign vectors to cells, probe the n closest cells per seed, exact "
    "scoring within probed cells only.",
)
def ann_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "docs_minhash_lsh_candidates",
    None,  # banded minhash not SQL-expressible → rows-only
    doc="Near-dup candidate pairs via banded MinHash-LSH "
    "(shingle→minhash→band-bucket join; O(collisions), never O(n²)).",
)
def docs_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs).orderBy("doc_a", "doc_b")


def _minhash_oracle_sql(max_bucket_size: int | None = None) -> str:
    """Embed the identical permutation family as a VALUES list so the
    full shingle → minhash → band-bucket pipeline has an exact SQL twin
    (md5 base hash, M = 2^31-1 keeps every product within BIGINT).
    ``max_bucket_size`` defaults to the engine's MAX_BUCKET_DEFAULT —
    the oracle replays the same oversized-bucket drop (QUALIFY window
    count) the Spark plan applies."""
    from ..operators.dedup import MAX_BUCKET_DEFAULT, minhash_params

    if max_bucket_size is None:
        max_bucket_size = MAX_BUCKET_DEFAULT
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(32, 42))
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 200),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    hx AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hx FROM sh),
    perms(i, a, b) AS (VALUES {perms}),
    mins AS (
      SELECT doc_id, p.i,
             MIN((hx % 2147483647 * p.a + p.b) % 2147483647) AS mh
      FROM hx CROSS JOIN perms p GROUP BY doc_id, p.i),
    bands_all AS (
      SELECT doc_id, i // 2 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
      FROM mins GROUP BY doc_id, i // 2),
    bands AS (
      -- mirror the engine's oversized-bucket drop (quadratic guard)
      SELECT doc_id, band, bucket FROM bands_all
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


@register(
    "docs_minhash_md5_candidates",
    _minhash_oracle_sql(),
    doc="Banded MinHash-LSH with the portable md5 base hash: the entire "
    "dedup candidate pipeline (word 5-shingles → 32 affine permutations "
    "mod 2^31-1 → 16 two-row band buckets → bucket self-join) is "
    "oracle-checked end-to-end. `docs_minhash_lsh_candidates` keeps the "
    "faster xxhash64 base for production.",
)
def docs_minhash_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.minhash_lsh_pairs(docs, portable=True).orderBy("doc_a", "doc_b")


@register(
    "docs_ngram_jaccard_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 30),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id),
    inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
              FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a
                           JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE)
           / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
                 JOIN sizes zb ON zb.doc_id = i.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc="n-gram (word 5-shingle) Jaccard similarity for all doc pairs "
    "with shingle overlap — the exact verify stage of the dedup ladder, "
    "oracle-checked (integer set counts → exact doubles).",
)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .join(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return dedup.ngram_jaccard(docs, pairs).orderBy("doc_a", "doc_b")


@register(
    "docs_simhash",
    None,  # 64-bit vote accumulation → rows-only
    doc="SimHash64 near-dup signatures (bit-vote aggregation, JVM-side).",
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash64(docs).orderBy("doc_id")


@register(
    "docs_simhash_md5",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE doc_id < 200),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, (SELECT unnest(range(0, 60)) AS bit) bits
      GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id ORDER BY doc_id
    """,
    doc="SimHash with a portable md5-derived 60-bit token hash: the full "
    "bit-vote accumulation is oracle-checked end-to-end (the xxhash64 "
    "variant `docs_simhash` keeps the faster production hash).",
)
def docs_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_md5_60(docs).orderBy("doc_id")


def _simhash_pairs_oracle_sql() -> str:
    """Banded-hamming oracle with the bucket cap interpolated from the
    engine constant (ADVICE r11: a literal 1024 here would silently
    diverge from the plan if dedup.MAX_BUCKET_DEFAULT ever changed; the
    minhash oracles already interpolate it via _minhash_oracle_sql)."""
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE doc_id < 200),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, (SELECT unnest(range(0, 60)) AS bit) bits
      GROUP BY doc_id, bit),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id),
    banded_all AS (
      SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS chunk
      FROM sig, (SELECT unnest(range(0, 4)) AS band) bands),
    banded AS (
      -- mirror the engine's oversized-bucket drop (quadratic guard)
      SELECT doc_id, simhash, band, chunk FROM banded_all
      QUALIFY COUNT(*) OVER (PARTITION BY band, chunk) <= {dedup.MAX_BUCKET_DEFAULT}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """


@register(
    "docs_simhash_neardup_pairs",
    _simhash_pairs_oracle_sql(),
    doc="SimHash ladder step 3 RETRIEVAL: banded hamming-ball lookup over "
    "the portable md5 60-bit signatures — 4×15-bit bands, equi-join on "
    "any band, verify bit_count(xor) <= 3. Exact by pigeonhole (3 < 4 "
    "bands) for pairs whose shared bands are within the bucket cap "
    "(dedup.drop_oversized_buckets, mirrored in the oracle's QUALIFY); "
    "the oracle re-implements the identical banding so the "
    "candidate-generation plan itself is hash-checked end-to-end.",
)
def docs_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sig = dedup.simhash_md5_60(docs)
    return dedup.simhash_banded_pairs(sig, max_hamming=3, bands=4, bits=60).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "docs_incremental_dedup",
    """
    -- NULL-text contract (r12 sweep): content dedup is over docs WITH
    -- content, explicit on both sides. Also defuses the classic SQL
    -- trap this sweep exposed: one NULL md5 in the corpus made
    -- `NOT IN (corpus)` three-valued-NULL for EVERY row (0-row output)
    -- while Spark's left_anti kept 80 — explicit filters on both sides
    -- make the anti-join semantics identical.
    WITH corpus AS (SELECT DISTINCT md5(text) AS content_hash
                    FROM documents WHERE doc_id < 400 AND text IS NOT NULL),
    newb AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id >= 400 AND text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000, text FROM documents
      WHERE doc_id < 5 AND text IS NOT NULL
      UNION ALL
      SELECT doc_id + 2000, text FROM documents
      WHERE doc_id = 400 AND text IS NOT NULL),
    hashed AS (SELECT doc_id, md5(text) AS content_hash FROM newb),
    in_batch AS (
      SELECT h.doc_id, h.content_hash
      FROM hashed h
      JOIN (SELECT content_hash, MIN(doc_id) AS doc_id
            FROM hashed GROUP BY content_hash) k
        ON h.content_hash = k.content_hash AND h.doc_id = k.doc_id)
    SELECT b.doc_id
    FROM in_batch b
    WHERE b.content_hash NOT IN (SELECT content_hash FROM corpus)
    ORDER BY b.doc_id
    """,
    doc="INCREMENTAL dedup (`dedup.dedup_incremental`) — the production "
    "ingest path: a new batch (docs >= 400, plus injected cross-batch "
    "copies of corpus docs and one in-batch duplicate) deduped against "
    "the standing corpus's fingerprint INDEX (docs < 400), never "
    "re-scanning the corpus itself. In-batch min-id rule then one "
    "anti-join against the index; cross-batch copies and the in-batch "
    "duplicate must both be rejected.",
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text contract (r12 sweep): content dedup only sees docs with
    # content (mirrors the oracle's explicit filters; a NULL content_hash
    # would be un-joinable noise in the persisted index)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    corpus_index = (
        docs.filter(F.col("doc_id") < 400)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    newb = (
        docs.filter(F.col("doc_id") >= 400)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") == 400).select(
                (F.col("doc_id") + 2000).alias("doc_id"), "text"
            )
        )
    )
    return (
        dedup.dedup_incremental(newb, corpus_index)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "docs_chunk_windows",
    r"""
    WITH base AS (
      -- NULL-text contract (r12 sweep): no tokens -> no chunks, stated
      -- explicitly on both sides (Spark's greatest(NULL-1, 0) otherwise
      -- emitted one garbage chunk per NULL doc)
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE text IS NOT NULL),
    starts AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((len(t) - 1) / 48.0) AS BIGINT) + 1)) AS i
      FROM base)
    SELECT doc_id,
           i AS chunk_id,
           array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text,
           CAST(len(list_slice(t, i * 48 + 1, i * 48 + 64)) AS BIGINT) AS n_tokens
    FROM starts ORDER BY doc_id, chunk_id
    """,
    doc="Sliding-window chunking (`text.chunk_documents`, 64-token "
    "windows / 48-token stride): the context-length packing precursor, "
    "computed shuffle-free with array-domain HOFs fused into the scan — "
    "the only row expansion is the per-doc chunk posexplode. Oracle "
    "replays it with list_slice over a generate_series of starts.",
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, window=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )


@register(
    "docs_lang_id",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 200),
    scores AS (
      SELECT doc_id, 'en' AS lang,
             len(list_filter(t, x -> x = 'the')) + len(list_filter(t, x -> x = 'and'))
             + len(list_filter(t, x -> x = 'of')) AS hits FROM base
      UNION ALL
      SELECT doc_id, 'de',
             len(list_filter(t, x -> x = 'der')) + len(list_filter(t, x -> x = 'und'))
             + len(list_filter(t, x -> x = 'die')) FROM base
      UNION ALL
      SELECT doc_id, 'fr',
             len(list_filter(t, x -> x = 'le')) + len(list_filter(t, x -> x = 'et'))
             + len(list_filter(t, x -> x = 'la')) FROM base
      UNION ALL
      SELECT doc_id, 'es',
             len(list_filter(t, x -> x = 'el')) + len(list_filter(t, x -> x = 'y'))
             + len(list_filter(t, x -> x = 'de')) FROM base),
    ranked AS (
      SELECT doc_id, lang, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang DESC) AS rk
      FROM scores)
    SELECT doc_id, lang AS predicted_lang, CAST(hits AS BIGINT) AS marker_hits
    FROM ranked WHERE rk = 1 ORDER BY doc_id
    """,
    doc="Language-ID heuristic: marker-word hit argmax per doc (ties "
    "break to the max language tag, mirroring the struct-max plan).",
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return text.language_scores(docs).orderBy("doc_id")


@register(
    "media_decode_pipeline",
    """
    WITH m AS (
      -- NULL-text contract (r12 sweep): no content -> no media row
      SELECT doc_id AS media_id,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      FROM documents WHERE doc_id < 100 AND text IS NOT NULL)
    SELECT media_id,
           CAST(h % 1920 + 1 AS INT) AS width,
           CAST(h % 1080 + 1 AS INT) AS height,
           CAST(h % 3 + 1 AS INT) AS n_channels,
           CAST(8 AS INT) AS vector_dim
    FROM m ORDER BY media_id
    """,
    doc="Multimodal plumbing: binary payload + typed metadata → "
    "Arrow-batched decode (deterministic md5-derived fake codec, so the "
    "mapInPandas stages are oracle-checkable end-to-end) → feature "
    "join; real codecs swap into the same mapInPandas stages.",
)
def media_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = mm.attach_media(docs)
    decoded = mm.decode_image(media, deterministic_fake=True)
    feats = mm.extract_features(media, dim=8)
    return (
        decoded.join(feats, "media_id")
        .select("media_id", "width", "height", "n_channels", "vector_dim")
        .orderBy("media_id")
    )


@register(
    "docs_quality_scores",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS BIGINT) AS n_tokens,
           CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                / (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1) AS DOUBLE) AS avg_token_len,
           (length(text) >= 100 AND
            (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1) >= 20) AS passes_quality
    FROM documents ORDER BY doc_id
    """,
    doc="Quality scoring: length/token heuristics as pushed-down column "
    "expressions; boolean gate for filtering at scale.",
)
def docs_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_scores(docs).select(
        "doc_id", "n_chars_actual", "n_tokens", "avg_token_len", "passes_quality"
    )


# deterministic md5-prefix thresholds (operators/sampling.py): hex render
# of cumulative weights — hardcoded in the SQL so the oracle replays the
# exact same assignment
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}  # → 'cccc', 'e666'
_SPLIT_CASE = """
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
         ELSE 'test' END"""


@register(
    "docs_hash_split_counts",
    f"""
    SELECT {_SPLIT_CASE} AS split, lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2 ORDER BY split, lang
    """,
    doc="Deterministic train/val/test split (keyed md5-prefix "
    "thresholds — stable under repartitioning and corpus growth, no RNG "
    "state; operators/sampling.hash_split) rolled up per language.",
)
def docs_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id", _SPLIT_WEIGHTS)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


@register(
    "docs_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN lang = 'en' THEN '0ccc'
               WHEN lang = 'de' THEN '7fff'
               ELSE 'ffff' END
    ORDER BY doc_id
    """,
    doc="Stratified deterministic down-sampling (corpus rebalance: 5% "
    "of dominant 'en', 50% 'de', ~100% rare strata) as one pushed-down "
    "column predicate — no per-stratum jobs, no shuffle "
    "(operators/sampling.stratified_hash_sample).",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.stratified_hash_sample(
            docs, "doc_id", "lang", {"en": 0.05, "de": 0.5}, default_fraction=0.9999999
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "docs_train_eval_contamination",
    rf"""
    WITH toks AS (
      -- NULL-text contract (r12 sweep): a NULL doc has NO shingles and is
      -- absent from the report — DuckDB's greatest() skips NULLs, so
      -- without the filter it manufactured one ''-shingle per NULL doc
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT DISTINCT doc_id, split, shingle FROM (
        SELECT doc_id, split,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
    ev AS (SELECT doc_id, shingle FROM sh WHERE split = 'eval')
    SELECT ev.doc_id, COUNT(*) AS n_shingles,
           COUNT(tr.shingle) AS n_contaminated,
           CAST(COUNT(tr.shingle) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS contamination
    FROM ev LEFT JOIN tr ON ev.shingle = tr.shingle
    GROUP BY ev.doc_id ORDER BY ev.doc_id
    """,
    doc="Train→holdout n-gram contamination: per holdout doc, the "
    "fraction of its word 5-shingles present anywhere in the train "
    "split. One shingle-keyed equi-join (linear, no all-pairs); the "
    "leakage gate before an eval set ships.",
)
def docs_train_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.ngram_contamination(
        docs, {"train": 0.9, "eval": 0.1}
    ).orderBy("doc_id")


@register(
    "docs_vocabulary_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents)
    SELECT term, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM toks GROUP BY term
    ORDER BY doc_freq DESC, term_freq DESC, term LIMIT 50
    """,
    doc="Vocabulary building: top-50 terms by document frequency with "
    "exact tf/df (one partial-agg pass on the term key; deterministic "
    "total order so LIMIT is stable).",
)
def docs_vocabulary_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.vocabulary(docs)


@register(
    "docs_bpe_token_stats",
    r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(list_filter(t, x -> regexp_full_match(x, '[A-Za-z]+')))
                AS BIGINT) AS n_word_tokens
    FROM toks ORDER BY doc_id
    """,
    doc="BPE-ish regex token counting (letter/digit/punct runs — the "
    "lookahead-free GPT-2 pre-tokenizer core) as pure column "
    "expressions; complements whitespace token_stats.",
)
def docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_token_stats(docs).orderBy("doc_id")


@register(
    "docs_pii_redaction",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
                AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT)
             AS n_long_digits,
           md5(regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                                '<EMAIL>', 'g'),
                 '[0-9]{6,}', '<LONG_DIGITS>', 'g')) AS redacted_hash
    FROM documents ORDER BY doc_id
    """,
    doc="PII-style scrub: typed-placeholder replacement for email and "
    "long-digit-run patterns with per-class match counts; the oracle "
    "compares an md5 of the redacted text, proving byte-identical scrub "
    "output. Redaction order matters (emails first — their local parts "
    "can contain digit runs) and is fixed in both plans.",
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.redact(docs)
        .select(
            "doc_id",
            "n_email",
            "n_long_digits",
            F.md5("redacted_text").alias("redacted_hash"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_exact_k_sample",
    """
    SELECT doc_id, lang FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    """,
    doc="Exactly-k deterministic sample: global top-100 by md5(key) — "
    "uniform-ish but reproducible and portable; TakeOrderedAndProject "
    "keeps k rows per partition, no global sort materializes.",
)
def docs_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.exact_k_sample(docs, "doc_id", 100).select("doc_id", "lang")


@register(
    "events_per_user_cap",
    """
    SELECT user_id, event_id FROM (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY md5(CAST(event_id AS VARCHAR)),
                                         event_id) AS rn
      FROM events)
    WHERE rn <= 5 ORDER BY user_id, event_id
    """,
    doc="Per-entity contribution cap: at most 5 events per user, chosen "
    "by deterministic hash order (stable across runs and appends) — the "
    "anti-dominance pass of corpus building. One window, no join.",
)
def events_per_user_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    ev = load_table(spark, sf_dir, "events")
    return sampling.per_group_cap(ev, ["user_id"], "event_id", 5).select(
        "user_id", "event_id"
    )


@register(
    "docs_dup_rate_within_source",
    """
    WITH hashed AS (SELECT source, md5(text) AS h FROM documents),
    grp AS (SELECT source, h, COUNT(*) AS n FROM hashed GROUP BY source, h)
    SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
           CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
             AS dup_rate
    FROM grp GROUP BY source ORDER BY source
    """,
    doc="Dedup health rollup: per source, documents that are redundant "
    "copies (beyond the first of each content group) and the redundancy "
    "rate — the monitoring view over the exact-dedup ladder. Integer "
    "counts; one IEEE division. Renamed from docs_dup_rate_by_source in "
    "r11: that name was accidentally reused by the corpus-wide "
    "(source x lang) variant, which keeps it; this one counts duplicate "
    "groups WITHIN each source only.",
)
def docs_dup_rate_within_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grp = (
        docs.select("source", F.md5("text").alias("h"))
        .groupBy("source", "h")
        .agg(F.count("*").alias("n"))
    )
    return (
        grp.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("n") - F.count("*")).cast("long").alias("n_redundant"),
            (
                (F.sum("n") - F.count("*")).cast("double")
                / F.sum("n").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "docs_neardup_clusters",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
              FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
              GROUP BY c.doc_a, c.doc_b),
    edges AS (
      SELECT i.doc_a AS a, i.doc_b AS b FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.6),
    bi AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM bi
      UNION
      SELECT r.a, p.b FROM reach r JOIN bi p ON p.a = r.b),
    members AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM bi)
    SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS canonical_id
    FROM members GROUP BY a ORDER BY doc_id
    """,
    doc="End-to-end near-dup clustering: co-shingle candidate pairs → "
    "exact Jaccard ≥ 0.6 verify → connected components → canonical = "
    "min doc id per cluster (the doc_id → keep mapping a dedup job "
    "emits). Spark side runs iterative min-label propagation; the "
    "oracle replays it as a recursive-CTE transitive closure — an "
    "ORACLE-CHECKED iterative graph algorithm. At scale the candidate "
    "stage swaps to MinHash-LSH (docs_minhash_lsh_candidates) with "
    "identical downstream plumbing.",
)
def docs_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.traversal import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    cand = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    edges = (
        dedup.ngram_jaccard(docs, cand)
        .filter(F.col("jaccard") >= 0.6)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("node_id").alias("doc_id"),
        F.col("component").cast("long").alias("canonical_id"),
    ).orderBy("doc_id")


@register(
    "docs_repetition_stats",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    words AS (SELECT doc_id, unnest(t) AS g FROM toks),
    wmax AS (SELECT doc_id, MAX(c) AS max_w FROM
               (SELECT doc_id, g, COUNT(*) AS c FROM words GROUP BY 1, 2)
             GROUP BY 1),
    bi AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))) AS g
           FROM toks WHERE len(t) >= 2),
    bmax AS (SELECT doc_id, MAX(c) AS max_b FROM
               (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
             GROUP BY 1),
    tri AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                                         i -> array_to_string(t[i:i+2], ' '))) AS g
            FROM toks WHERE len(t) >= 3),
    tstat AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS d_tri
              FROM tri GROUP BY 1)
    SELECT k.doc_id,
           CAST(len(k.t) AS BIGINT) AS n_tokens,
           CAST(w.max_w AS DOUBLE) / CAST(len(k.t) AS DOUBLE) AS top_word_frac,
           CASE WHEN b.max_b IS NULL THEN 0.0
                ELSE CAST(2 * b.max_b AS DOUBLE) / CAST(len(k.t) AS DOUBLE)
           END AS top_bigram_frac,
           CASE WHEN s.n_tri IS NULL THEN 0.0
                ELSE CAST(s.n_tri - s.d_tri AS DOUBLE) / CAST(s.n_tri AS DOUBLE)
           END AS dup_trigram_frac
    FROM toks k
    JOIN wmax w USING (doc_id)
    LEFT JOIN bmax b USING (doc_id)
    LEFT JOIN tstat s USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition quality filters (top-word fraction, "
    "top-bigram fraction, duplicated-trigram fraction) — "
    "`text.repetition_stats`. Spark side is a SHUFFLE-FREE projection "
    "(n-gram stats via array higher-order functions: transform/slice, "
    "array_sort + aggregate run-length, array_distinct); the oracle "
    "recomputes relationally via unnest + GROUP BY. All metrics are "
    "int/int divisions → portable doubles.",
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs).orderBy("doc_id")


@register(
    "docs_sequence_packing",
    r"""
    WITH base AS (
      SELECT doc_id,
             CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents),
    cum AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY ord_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_tok
      FROM base)
    SELECT doc_id, shard, n_tokens, start_tok,
           CAST(FLOOR(start_tok / 512) AS BIGINT) AS seq_in_shard,
           CAST(FLOOR((start_tok + n_tokens - 1) / 512)
                - FLOOR(start_tok / 512) + 1 AS BIGINT) AS n_seqs_spanned
    FROM cum ORDER BY doc_id
    """,
    doc="Training-sequence packing plan (`sampling.pack_sequences`, "
    "budget=512, 8 shards): deterministic md5-shuffled concat order per "
    "shard, running-sum start offsets, seq id + boundary-span count per "
    "doc. One shard-partitioned window is the only wide op — at 100 TB "
    "n_shards scales out and shards pack independently. Oracle replays "
    "the identical window in SQL.",
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.pack_sequences(docs, budget=512, n_shards=8).orderBy("doc_id")


@register(
    "docs_mixture_resample",
    """
    WITH w(lang, w_d) AS (VALUES ('en', 4), ('de', 2), ('fr', 2), ('es', 1), ('zh', 1)),
    counts AS (
      SELECT d.lang, COUNT(*) AS n_d, ANY_VALUE(w.w_d) AS w_d
      FROM documents d JOIN w USING (lang) GROUP BY d.lang),
    ach AS (SELECT MIN(CAST(FLOOR(n_d * 10 / w_d) AS BIGINT)) AS n_total FROM counts),
    quotas AS (
      SELECT lang, CAST(FLOOR(w_d * n_total / 10) AS BIGINT) AS quota
      FROM counts CROSS JOIN ach),
    ranked AS (
      SELECT d.doc_id, d.lang, d.source,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d JOIN w USING (lang))
    SELECT r.doc_id, r.lang, r.source
    FROM ranked r JOIN quotas q USING (lang)
    WHERE r.rn <= q.quota
    ORDER BY r.doc_id
    """,
    doc="Exact mixture resampling (`sampling.mixture_resample`): target "
    "mix en:de:fr:es:zh = 4:2:2:1:1, all-integer quota arithmetic "
    "(N = min floor(n_d*W/w_d)), k_d-smallest-by-md5 lottery per "
    "stratum. Deterministic, append-stable, oracle replays the same "
    "window. Two-phase pre-filter documented for 100 TB strata.",
)
def docs_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.mixture_resample(
        docs, "lang", {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1}
    )
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


@register(
    "docs_normalized_dedup",
    r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g')) AS norm_text
      FROM documents)
    SELECT md5(norm_text) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM n GROUP BY md5(norm_text) HAVING COUNT(*) > 1
    ORDER BY norm_hash
    """,
    doc="Normalization-aware exact dedup (`text.normalize` + hash "
    "groupBy): lowercase/punctuation-strip/whitespace-collapse fused "
    "into the scan projection, then the same one-shuffle digest "
    "grouping as docs_exact_dup_groups — catches trivially mutated "
    "copies byte-exact dedup misses. DuckDB regexp_replace carries the "
    "'g' flag to match Spark's always-global replace.",
)
def docs_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.normalize(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.md5(F.col("norm_text")).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("norm_hash")
    )


@register(
    "docs_filter_pipeline",
    r"""
    WITH toks AS (SELECT doc_id, text,
                         string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    bi AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))) AS g
           FROM toks WHERE len(t) >= 2),
    bmax AS (SELECT doc_id, MAX(c) AS max_b FROM
               (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
             GROUP BY 1),
    tri AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                                         i -> array_to_string(t[i:i+2], ' '))) AS g
            FROM toks WHERE len(t) >= 3),
    tstat AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS d_tri
              FROM tri GROUP BY 1),
    m AS (
      SELECT k.doc_id,
             len(k.t) AS n_tokens,
             CAST(length(replace(k.text, ' ', '')) AS DOUBLE)
               / CAST(len(k.t) AS DOUBLE) AS avg_len,
             CASE WHEN b.max_b IS NULL THEN 0.0
                  ELSE CAST(2 * b.max_b AS DOUBLE) / CAST(len(k.t) AS DOUBLE)
             END AS top_bi,
             CASE WHEN s.n_tri IS NULL THEN 0.0
                  ELSE CAST(s.n_tri - s.d_tri AS DOUBLE) / CAST(s.n_tri AS DOUBLE)
             END AS dup_tri
      FROM toks k LEFT JOIN bmax b USING (doc_id) LEFT JOIN tstat s USING (doc_id))
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN avg_len < 2.0 OR avg_len > 12.0 THEN 'bad_token_shape'
                WHEN top_bi > 0.17 THEN 'too_repetitive'
                WHEN dup_tri > 0.1 THEN 'dup_trigrams'
                ELSE 'keep' END AS verdict
    FROM m ORDER BY doc_id
    """,
    doc="Composite C4/Gopher-style quality gate "
    "(`text.filter_verdicts`): every heuristic rule — length, token "
    "shape, top-bigram repetition, duplicated trigrams — evaluated in "
    "ONE fused shuffle-free projection with first-failing-rule drop "
    "attribution. The oracle rebuilds each metric relationally and "
    "replays the same CASE ladder. Adding a rule costs zero extra "
    "passes at 100 TB.",
)
def docs_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.filter_verdicts(docs).orderBy("doc_id")


@register(
    "docs_term_lift_by_source",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term),
    srctot AS (SELECT source, SUM(tf) AS n_source FROM tf GROUP BY source),
    termtot AS (SELECT term, SUM(tf) AS tf_all FROM tf GROUP BY term),
    tot AS (SELECT SUM(tf) AS n_total FROM tf),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, termtot.tf_all,
             (CAST(tf.tf AS DOUBLE) / CAST(srctot.n_source AS DOUBLE))
             / (CAST(termtot.tf_all AS DOUBLE) / CAST(tot.n_total AS DOUBLE))
               AS lift
      FROM tf JOIN srctot USING (source)
              JOIN termtot USING (term)
              CROSS JOIN tot
      WHERE termtot.tf_all >= 5)
    SELECT source, term, tf, lift FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY lift DESC, tf DESC, term) AS rn
      FROM scored)
    WHERE rn <= 5 ORDER BY source, lift DESC, tf DESC, term
    """,
    doc="Per-source distinctive terms by frequency lift — tf-idf's "
    "transcendental-free cousin: lift(term, source) = relative frequency "
    "in the source / relative frequency in the corpus, top-5 per source "
    "(terms with corpus tf >= 5). Pure integer aggregation + two IEEE "
    "divisions, so ranks are bit-identical across engines — the "
    "corpus-exploration query a data-mixing pipeline runs per shard.",
)
def docs_term_lift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    srctot = tf.groupBy("source").agg(F.sum("tf").alias("n_source"))
    termtot = tf.groupBy("term").agg(F.sum("tf").alias("tf_all"))
    tot = tf.agg(F.sum("tf").alias("n_total"))
    lift = (
        F.col("tf").cast("double") / F.col("n_source").cast("double")
    ) / (F.col("tf_all").cast("double") / F.col("n_total").cast("double"))
    scored = (
        tf.join(F.broadcast(srctot), "source")
        .join(termtot, "term")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("tf_all") >= 5)
        .withColumn("lift", lift)
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift"), F.desc("tf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "term", "tf", "lift")
        .orderBy("source", F.desc("lift"), F.desc("tf"), "term")
    )


@register(
    "docs_span_dedup",
    """
    WITH t AS (-- NULL-text contract (r12 sweep): no content -> no spans
               SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, CAST(i AS INT) AS block_idx,
                 array_to_string(toks[(i*4+1):(i*4+4)], ' ') AS block
          FROM t, UNNEST(range(CAST(ceil(len(toks)/4.0) AS BIGINT))) AS u(i)),
    c AS (SELECT block, COUNT(*) AS cnt FROM b GROUP BY block),
    k AS (SELECT b.doc_id, b.block_idx, b.block, c.cnt
          FROM b JOIN c USING (block))
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(CASE WHEN cnt < 2 THEN block END,
                                   ' ' ORDER BY block_idx), '')) AS clean_md5
    FROM k GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Duplicated-span removal (RefinedWeb repeated-line filter over "
    "4-token blocks): corpus-wide span counts, strip spans seen 2+ "
    "times, md5 the reassembled text. Two narrow map-side-combinable "
    "shuffles; dedup-ladder step between exact and MinHash.",
    bench=True,
)
def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup(docs, block=4, min_count=2).orderBy("doc_id")


@register(
    "docs_epoch_shuffle",
    """
    SELECT doc_id,
           CAST(doc_id % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY doc_id % 8
                ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS pos
    FROM documents ORDER BY shard, pos
    """,
    doc="Deterministic epoch shuffle (training-order randomization): "
    "static shard membership + seed-keyed md5 rank within shard; one "
    "shard-partitioned window, no global sort.",
)
def docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_shuffle(docs, n_shards=8, seed=7).orderBy("shard", "pos")


@register(
    "docs_heavy_hitter_terms",
    """
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS value FROM documents),
    c AS (SELECT value, COUNT(*) AS exact_count FROM t GROUP BY value),
    tot AS (SELECT SUM(exact_count) AS n FROM c)
    SELECT c.value, c.exact_count
    FROM c, tot WHERE c.exact_count * 32 > tot.n
    ORDER BY exact_count DESC, value
    """,
    doc="Heavy hitters over document terms, frequency > N/32. Exact "
    "one-scan plan (r5, was the two-pass MG pipeline): explode -> "
    "partial-hash-aggregated wordcount (the exchange carries per-task "
    "DISTINCT terms — Zipfian token domains are tiny next to the "
    "corpus, and all JVM-side) -> total from the counted table (never "
    "a second token scan) -> broadcast threshold filter. The r4 MG "
    "pipeline paid Arrow transit for every token in the mapInPandas "
    "partial plus a verify re-scan: 2.39s vs this plan's ~0.6s at sf1 "
    "(8.6x -> ~2x vs the identical DuckDB oracle). Misra-Gries remains "
    "the documented path for UNBOUNDED/adversarial key domains where "
    "the vocabulary itself cannot be shuffled — driver-checked via "
    "docs_heavy_hitter_mg, bound-tested in test_sketches. sf10 "
    "root-cause (BASELINE sec 10): 58% of wall is the raw explode "
    "primitive itself (1.93 of 3.30s; DuckDB's vectorized unnest runs "
    "the WHOLE query in 0.69s) — an engine-primitive floor: linear, "
    "partition-parallel, skew-free; the aggregate on top is already "
    "map-side-combined and vocabulary-sized.",
    bench=True,
)
def docs_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    return sketches.heavy_hitters_exact_threshold(toks, "term", k=32).orderBy(
        F.desc("exact_count"), "value"
    )


@register(
    "docs_heavy_hitter_mg",
    """
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS value FROM documents),
    c AS (SELECT value, COUNT(*) AS exact_count FROM t GROUP BY value),
    tot AS (SELECT SUM(exact_count) AS n FROM c)
    SELECT c.value, c.exact_count
    FROM c, tot WHERE c.exact_count * 32 > tot.n
    ORDER BY exact_count DESC, value
    """,
    doc="Two-pass Misra-Gries heavy hitters (the 100 TB unbounded-domain "
    "path): mapInPandas k-counter partials (<= k rows shuffled per task "
    "regardless of input size) -> merged candidates -> exact verify of "
    "the candidate set only (broadcast semi-join) -> threshold "
    "exact_count*32 > N. The MG superset guarantee makes the FINAL "
    "verified output exact, so the whole approximate pipeline is "
    "oracle-checked against the same SQL as the exact plan (the sketch "
    "bound itself is tested in test_sketches).",
)
def docs_heavy_hitter_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    cand = sketches.heavy_hitters(toks, "term", k=32)
    exact = sketches.verify_heavy_hitters(toks, "term", cand)
    total = toks.agg(F.count("*").alias("n"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * 32 > F.col("n"))
        .select("value", "exact_count")
        .orderBy(F.desc("exact_count"), "value")
    )


@register(
    "ann_pq_top5",
    None,  # Lloyd means are float-order sensitive → rows-only; recall
    # + code-shape guarantees live in tests/test_pipeline.py
    doc="Product-quantization ANN (the IVF-PQ compression half): "
    "per-subspace codebooks (hash-sampled init + Lloyd, all subspaces "
    "trained in one DataFrame per round), vectors encoded to m small "
    "codes, then an asymmetric-distance CODE scan — numpy LUT gathers "
    "inside mapInPandas, 8 bytes/vector touched — pruned per partition "
    "and exactly re-ranked on candidates only. The full-vector table is "
    "touched once offline and once for the candidate equi-join.",
)
def ann_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 100)
    return similarity.pq_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "ann_ivf_pq_top5",
    None,  # Lloyd float means + hash routing → rows-only; recall tested
    doc="IVF-PQ, the full production ANN stack: IVF routing to n_probe "
    "cells (1/K of the corpus per probe) + PQ asymmetric-distance scan "
    "over the probed cells' 8-byte codes + exact re-rank of survivors. "
    "At scale the codes are partitioned BY CELL so a probe reads "
    "n_probe/K of a codes table — the billion-scale ANN memory/IO "
    "shape. Composition of ivf_assign + pq_train/pq_encode.",
)
def ann_ivf_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 100)
    return similarity.ivf_pq_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "docs_bpe_merges",
    None,  # per-round argmax + array rewrite isn't SQL-expressible; the
    # trainer is pinned against a plain-Python reference loop in tests
    doc="Distributed BPE merge training (text.bpe_train): top-8 learned "
    "merges over the corpus vocabulary. Per round: one pair-count "
    "shuffle over DISTINCT words (round cost scales with vocabulary, "
    "not corpus), one 1-row argmax to the driver, merge applied as a "
    "shuffle-free array fold. Deterministic tie-breaks; exact "
    "equivalence to the sequential reference trainer proven in "
    "test_pipeline.",
)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, words = bpe_train(docs, n_merges=8)
    words.unpersist()
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


_CANON_SPLIT_CASE = _SPLIT_CASE.replace("doc_id", "canonical_id")


@register(
    "docs_leakage_safe_split",
    rf"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
              FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
              GROUP BY c.doc_a, c.doc_b),
    edges AS (
      SELECT i.doc_a AS a, i.doc_b AS b FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.6),
    bi AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM bi
      UNION
      SELECT r.a, p.b FROM reach r JOIN bi p ON p.a = r.b),
    members AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM bi),
    canon AS (SELECT a AS doc_id, MIN(b) AS canonical_id
              FROM members GROUP BY a),
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.canonical_id, d.doc_id) AS BIGINT) AS canonical_id
      FROM documents d LEFT JOIN canon c USING (doc_id))
    SELECT {_CANON_SPLIT_CASE} AS split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_clusters
    FROM assigned GROUP BY 1 ORDER BY split
    """,
    doc="LEAKAGE-SAFE train/val/test split: near-dup clusters (Jaccard "
    "CC, canonical = min member) are split as a UNIT — the split hash "
    "keys on the canonical id, so two near-duplicate documents can "
    "never land in train and test (the contamination channel plain "
    "per-doc splitting leaves open). Oracle replays clustering + "
    "canonical-keyed split end-to-end.",
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling
    from ..operators.traversal import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    cand = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    edges = (
        dedup.ngram_jaccard(docs, cand)
        .filter(F.col("jaccard") >= 0.6)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components(edges)
    assigned = (
        docs.select("doc_id")
        .join(
            cc.select(
                F.col("node_id").alias("doc_id"),
                F.col("component").cast("long").alias("canonical_id"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )
    split = sampling.hash_split(assigned, "canonical_id", _SPLIT_WEIGHTS)
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("canonical_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


@register(
    "docs_cdc_dedup",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents),
    g AS (
      SELECT doc_id, pos, tok,
             md5(COALESCE(LAG(tok, 2) OVER w, '') || '|' ||
                 COALESCE(LAG(tok, 1) OVER w, '') || '|' || tok) AS h
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    f AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos = 0 OR substr(h, 1, 1) = '0' THEN 1 ELSE 0 END
               AS boundary
      FROM g),
    c AS (
      SELECT doc_id, pos, tok,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) - 1 AS chunk_id
      FROM f),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
      FROM c GROUP BY doc_id, chunk_id),
    counts AS (SELECT chunk_md5, COUNT(*) AS n FROM chunks GROUP BY chunk_md5)
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN co.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks
    FROM chunks ch JOIN counts co USING (chunk_md5)
    GROUP BY ch.doc_id ORDER BY ch.doc_id
    """,
    doc="Content-defined chunk dedup (dedup.cdc_chunks): rolling-hash "
    "boundaries (md5 of the trailing 3-token window) cut ~16-token "
    "chunks that re-align across insertions — per doc, how many of its "
    "chunks exist elsewhere in the corpus. The variable-boundary "
    "upgrade of docs_span_dedup; oracle replays chunking + corpus "
    "counts end-to-end.",
)
def docs_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = dedup.cdc_chunks(docs)
    counts = chunks.groupBy("chunk_md5").agg(F.count("*").alias("n"))
    return (
        chunks.join(counts, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("n") > 1).cast("long")).alias("n_shared_chunks"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_token_budget_sample",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE source IS NOT NULL),
    c AS (
      SELECT doc_id, source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM t)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM c WHERE before < 2000
    GROUP BY source ORDER BY source
    """,
    doc="Token-budget mixture sampling (sampling.token_budget_sample): "
    "per source, whole docs in deterministic md5 order until a 2000-"
    "token budget fills — quota in TOKENS, not documents (the "
    "pretraining 'N tokens per domain' op). Greedy whole-doc fill, at "
    "most one doc over budget per stratum; oracle replays the running "
    "total.",
)
def docs_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    kept = sampling.token_budget_sample(
        docs, {s: 2000 for s in sources}, stratum_col="source"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("source")
    )


@register(
    "docs_containment_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 30),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id),
    inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
              FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a
                           JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE)
           / CAST(least(za.n_sh, zb.n_sh) AS DOUBLE) AS containment
    FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
                 JOIN sizes zb ON zb.doc_id = i.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc="n-gram CONTAINMENT |A∩B| / min(|A|,|B|) for overlapping pairs "
    "— the quote/subset detector Jaccard misses (a short doc pasted "
    "into a long one: containment 1.0, Jaccard ~0); the dedup ladder's "
    "second exact verifier, oracle-checked.",
)
def docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .join(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return dedup.ngram_containment(docs, pairs).orderBy("doc_a", "doc_b")


@register(
    "media_feature_neighbors",
    None,  # float32 histogram quantization has no bit-exact SQL twin;
    # determinism + composition are pytest-pinned
    doc="Multimodal -> similarity composition: attach_media (binary "
    "payload + typed metadata) -> extract_features (Arrow mapInPandas "
    "byte-histogram featurizer — a real vision model swaps in with the "
    "same batch shape) -> exact cosine top-3 neighbors per media item "
    "(quantized JVM dot products). The media dedup/retrieval path a "
    "100 TB multimodal corpus runs after decode. Portable twin: "
    "ann_cosine_top5 oracle-checks the identical cosine-top-k scorer "
    "over the embeddings table; test_multimodal pins the featurizer's "
    "determinism and batch shape.",
)
def media_feature_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal, similarity

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media(docs)
    feats = multimodal.extract_features(media).select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    seeds = feats.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_bruteforce(feats, seeds, k=3).orderBy("seed", "rk")


@register(
    "docs_tokenizer_fertility",
    r"""
    WITH t AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
               AS n_bpe
      FROM documents)
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
             AS fertility
    FROM t GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility per language: sub-word tokens per "
    "whitespace word — the metric that decides whether a tokenizer "
    "under-serves a language (fertility >> 1 inflates training cost and "
    "truncates context). One fused scan; exact integer sums, one final "
    "division.",
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import n_tokens as _n_tokens
    from ..operators.text import BPE_ISH_PATTERN

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    per = docs.select(
        "lang",
        _n_tokens(F.col("text")).alias("n_words"),
        F.size(toks).cast("long").alias("n_bpe"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"),
        )
        .orderBy("lang")
    )


@register(
    "emb_label_centroids",
    f"""
    WITH q AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS d,
             CAST(ROUND(unnest(embedding) * 1000) AS BIGINT) AS qv
      FROM embeddings WHERE {_EMB_FINITE_OR_NULL}),
    s AS (SELECT label, d, SUM(qv) AS sq FROM q GROUP BY label, d),
    c AS (SELECT label, COUNT(*) AS n_members FROM embeddings
          WHERE {_EMB_FINITE_OR_NULL} GROUP BY label)
    SELECT s.label, c.n_members, CAST(s.d AS INT) AS d,
           CAST(s.sq AS DOUBLE) / CAST(c.n_members AS DOUBLE) AS centroid_v
    FROM s JOIN c USING (label)
    ORDER BY s.label, d
    """,
    doc="Class prototypes (similarity.label_centroids): per-label mean "
    "embedding via exact integer per-dim sums (one map-side-combinable "
    "shuffle of label×dims rows) with a single final division per dim — "
    "the nearest-class-mean / cluster-balanced-curation primitive. The "
    "vector payload is oracle-checked EXPLODED to (label, d, value) "
    "rows: list cells are unhashable in the driver's pandas canon "
    "(the r04 correctness run failed on it), and double→string "
    "rendering is not cross-engine stable, so exploded doubles are the only "
    "payload-exact encoding.",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.label_centroids(emb)
    return cent.select(
        "label",
        "n_members",
        F.posexplode("centroid").alias("d", "centroid_v"),
    ).orderBy("label", "d")


@register(
    "docs_unigram_commonness",
    r"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+')))
               AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    cf AS (SELECT tok, COUNT(*) AS cf FROM tf GROUP BY tok),
    tot AS (SELECT COUNT(*) AS t_total FROM tf),
    per AS (
      SELECT d.doc_id, COUNT(*) AS n_tokens, SUM(c.cf) AS sum_cf,
             SUM(CASE WHEN c.cf < 3 THEN 1 ELSE 0 END) AS n_rare
      FROM tf d JOIN cf c USING (tok) GROUP BY d.doc_id)
    SELECT doc_id, n_tokens, CAST(sum_cf AS BIGINT) AS sum_cf,
           CAST(n_rare AS BIGINT) AS n_rare,
           CAST(sum_cf AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(t_total AS DOUBLE))
             AS avg_token_prob,
           CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rare_frac
    FROM per, tot ORDER BY doc_id
    """,
    doc="Unigram-LM commonness scoring (text.unigram_commonness): "
    "corpus-global token frequencies joined back per doc — mean token "
    "probability + rare-token fraction, the quality-filter features a "
    "perplexity filter approximates. Exact BIGINT sums, one final IEEE "
    "division (log-free by design: transcendental rounding is not "
    "cross-engine stable; ln() is a one-line swap in production). The "
    "token-key join is the classic Zipf hot-key case — AQE skew-join "
    "or head-of-vocab broadcast at scale.",
)
def docs_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_commonness(docs).orderBy("doc_id")


@register(
    "docs_curriculum_phases",
    """
    WITH q AS (SELECT quantile_cont(n_chars, 0.25) AS p25,
                      quantile_cont(n_chars, 0.75) AS p75 FROM documents)
    SELECT doc_id,
           CAST(CASE WHEN n_chars <= q.p25 THEN 0
                     WHEN n_chars <= q.p75 THEN 1 ELSE 2 END AS INT) AS phase,
           md5('13|' || CAST(doc_id AS VARCHAR)) AS sort_key
    FROM documents, q ORDER BY doc_id
    """,
    doc="Curriculum assignment (sampling.curriculum_phases): easy→hard "
    "phases by length quartile (exact-binary 0.25/0.75 interpolation — "
    "engine-exact) + seed-keyed md5 within-phase order. No global "
    "window: 1-row percentile broadcast, scan-fused projection; the "
    "physical curriculum order is write-time partitionBy(phase)+"
    "sortWithinPartitions.",
)
def docs_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.curriculum_phases(docs).orderBy("doc_id")


@register(
    "docs_source_interleave",
    """
    WITH si AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)),
    ns AS (SELECT COUNT(*) AS n_sources FROM si),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('11|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
               AS rn
      FROM documents WHERE source IS NOT NULL)
    SELECT r.doc_id, r.source, CAST(r.rn AS BIGINT) AS rn,
           CAST(r.rn * ns.n_sources + si.src_idx AS BIGINT) AS interleave_pos
    FROM r JOIN si USING (source), ns ORDER BY interleave_pos
    """,
    doc="Domain-balanced round-robin interleave "
    "(sampling.source_interleave): position = rank·S + source_idx, so a "
    "sequential reader cycles sources 1-1-1... — mixture batch "
    "composition with NO global window (per-source partitioned rank + "
    "a dimension-sized source-index window).",
)
def docs_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.source_interleave(docs).orderBy("interleave_pos")


@register(
    "docs_inverted_index",
    r"""
    WITH tf AS (
      SELECT DISTINCT doc_id,
             lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM documents),
    post AS (
      SELECT tok, COUNT(*) AS df,
             list(doc_id ORDER BY doc_id) AS postings
      FROM tf WHERE tok <> '' GROUP BY tok)
    SELECT tok, df, array_to_string(postings, '|') AS postings FROM post
    ORDER BY df, tok LIMIT 10
    """,
    doc="Inverted-index build (search primitive): term → sorted "
    "posting list of doc_ids for the 10 RAREST terms (df asc — the "
    "discriminative tail a retrieval engine scans first; head terms "
    "belong in a stop list and their postings are the long tail you "
    "cap). One "
    "tokenize-distinct pass + one groupBy(term) with "
    "sort_array(collect_list) — postings build map-side per term; at "
    "100 TB partition the index by term-hash range and cap posting "
    "length (doc-at-a-time engines stream the long tail). The posting "
    "list is '|'-joined at the output boundary (BIGINTs render "
    "identically on both engines; bare list cells crash the driver's "
    "pandas canon) and hash-compared against DuckDB's "
    "array_to_string(list(ORDER BY)) — payload-exact.",
)
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t0"),
        )
        .select("doc_id", F.lower(F.col("t0")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    return (
        tf.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .select(
            "tok",
            "df",
            F.array_join(F.col("postings").cast("array<string>"), "|").alias(
                "postings"
            ),
        )
        .orderBy("df", "tok")
        .limit(10)
    )


@register(
    "docs_bigram_counts",
    bench=True,  # array-side n-gram build (zero-shuffle until the count)
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents),
    u AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
      FROM toks),
    bg AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
      WHERE a.tok <> '' AND b.tok <> ''),
    pair AS (SELECT w1, w2, COUNT(*) AS pair_n FROM bg GROUP BY w1, w2),
    pre AS (SELECT w1, CAST(SUM(pair_n) AS BIGINT) AS prefix_n
            FROM pair GROUP BY w1)
    SELECT p.w1, p.w2, p.pair_n, r.prefix_n
    FROM pair p JOIN pre r USING (w1)
    ORDER BY pair_n DESC, w1, w2 LIMIT 30
    """,
    doc="Bigram conditional-count model (n-gram LM training counts): "
    "top-30 adjacent token pairs with the pair count and the prefix "
    "marginal — P(w2|w1) = pair_n/prefix_n as exact integers (the "
    "division left to the consumer keeps the row engine-exact). Spark "
    "builds bigrams ARRAY-SIDE (transform over the token array — "
    "scan-fused, zero shuffle until the count) where the oracle "
    "self-joins on ordinality; same multiset, Spark plan avoids the "
    "per-doc join. Total order (count desc, w1, w2) bounds the LIMIT. "
    "r7 A/B (BASELINE sec 10): the posexplode+LEAD window form wins "
    "18% at sf10 on local[32] (19.8s vs 24.2s) but shuffles the "
    "ENTIRE token stream by doc — kept zero-shuffle deliberately: "
    "local mode underprices shuffles, and at cluster scale the "
    "struct-ref lambda's per-row CPU is embarrassingly parallel while "
    "a 100 TB token shuffle is not. r13 (guide §2.4): the prefix "
    "marginal is a SUM window over the pair table partitioned by w1, "
    "not a second aggregate joined back — the r12 'AQE exchange reuse "
    "dedupes the explode subtree' claim was FALSE (checkpointing the "
    "pair table beat the lazy join form 0.525s vs 0.600s at sf0.1, so "
    "the subtree WAS re-executed); the window form evaluates the "
    "explode once BY CONSTRUCTION and drops the join outright "
    "(receipts: sf0.1 0.600→0.483s, "
    "sf10 interleaved 5.563→5.383s, rows IDENTICAL both scales).",
)
def docs_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
        )
        .select(
            # size(t) >= 2 guard (r12 NULL/empty-text sweep): Spark's
            # sequence(1, 0) is DESCENDING [1, 0], not empty, so a
            # single-token doc crashed the lambda with INVALID_ARRAY_INDEX
            # (same guard as the text.py bigram sites)
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("pair_n"))
    return (
        pair.withColumn(
            "prefix_n", F.sum("pair_n").over(Window.partitionBy("w1"))
        )
        .select("w1", "w2", "pair_n", "prefix_n")
        .orderBy(F.desc("pair_n"), "w1", "w2")
        .limit(30)
    )


@register(
    "docs_keyword_search",
    r"""
    WITH toks AS (
      SELECT doc_id,
             lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM documents),
    hits AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
             WHERE tok IN ('dup', 'vector', 'stream') GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
           WHERE tok IN ('dup', 'vector', 'stream') GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (SELECT h.doc_id, h.tok,
                  h.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS s
           FROM hits h JOIN df USING (tok), n),
    piv AS (
      SELECT doc_id,
             MAX(CASE WHEN tok = 'dup' THEN s END) AS s_dup,
             MAX(CASE WHEN tok = 'vector' THEN s END) AS s_vector,
             MAX(CASE WHEN tok = 'stream' THEN s END) AS s_stream
      FROM sc GROUP BY doc_id)
    SELECT doc_id, COALESCE(s_dup, 0) AS s_dup,
           COALESCE(s_vector, 0) AS s_vector,
           COALESCE(s_stream, 0) AS s_stream,
           COALESCE(s_dup, 0) + COALESCE(s_vector, 0)
             + COALESCE(s_stream, 0) AS score
    FROM piv
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="Keyword retrieval with tf·idf-ratio scoring: top-10 docs for "
    "the query {dup, vector, stream} — per-term score tf·(N/df) (the "
    "LINEAR idf ratio instead of log, so every float op is a single "
    "deterministic IEEE divide/multiply; the rare term 'dup' dominates "
    "exactly as log-idf would rank it). The per-doc total pivots the "
    "≤3 term scores into FIXED columns and adds them in declared order "
    "— no order-dependent float reduction. Query terms broadcast as a "
    "3-row dim; one scan + one groupBy(doc, term).",
)
def docs_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = ["dup", "vector", "stream"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok").isin(terms))
    hits = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # df = COUNT(DISTINCT doc_id) per term == the number of hits rows
    # per term (hits is keyed by (doc, tok)); deriving it from hits
    # reuses hits' shuffle exchange, so the term-filtered explode scans
    # the corpus once, not twice.
    df_t = hits.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    sc = (
        hits.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))).alias("s"),
        )
    )
    piv = sc.groupBy("doc_id").agg(
        F.max(F.when(F.col("tok") == "dup", F.col("s"))).alias("s_dup"),
        F.max(F.when(F.col("tok") == "vector", F.col("s"))).alias("s_vector"),
        F.max(F.when(F.col("tok") == "stream", F.col("s"))).alias("s_stream"),
    )
    z = F.lit(0.0)
    return (
        piv.select(
            "doc_id",
            F.coalesce(F.col("s_dup"), z).alias("s_dup"),
            F.coalesce(F.col("s_vector"), z).alias("s_vector"),
            F.coalesce(F.col("s_stream"), z).alias("s_stream"),
            (
                F.coalesce(F.col("s_dup"), z)
                + F.coalesce(F.col("s_vector"), z)
                + F.coalesce(F.col("s_stream"), z)
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@register(
    "emb_centroid_similarity",
    f"""
    WITH q AS (
      SELECT label, generate_subscripts(embedding, 1) AS d,
             CAST(ROUND(unnest(embedding) * 1000) AS BIGINT) AS qv
      FROM embeddings WHERE {_EMB_FINITE_OR_NULL}),
    s AS (SELECT label, d, SUM(qv) AS s FROM q GROUP BY label, d),
    ip AS (SELECT a.label AS label_a, b.label AS label_b,
                  SUM(a.s * b.s) AS ip_num
           FROM s a JOIN s b ON a.d = b.d AND a.label <= b.label
           GROUP BY 1, 2),
    diag AS (SELECT label_a AS l, ip_num AS nrm FROM ip
             WHERE label_a = label_b)
    SELECT i.label_a, i.label_b, CAST(i.ip_num AS BIGINT) AS ip_num,
           CAST(i.ip_num AS DOUBLE)
             / (sqrt(CAST(da.nrm AS DOUBLE)) * sqrt(CAST(db.nrm AS DOUBLE)))
             AS cos
    FROM ip i JOIN diag da ON da.l = i.label_a
    JOIN diag db ON db.l = i.label_b
    ORDER BY label_a, label_b
    """,
    doc="Inter-class centroid cosine matrix "
    "(similarity.centroid_similarity_matrix): quantize scale and "
    "member counts cancel, so each cell is an exact BIGINT inner "
    "product of per-label integer sum-vectors with two IEEE-exact "
    "sqrts and one divide — the confusion-structure / label-noise "
    "audit beside emb_label_centroids, bit-identical across engines "
    "including the diagonal (exactly 1.0).",
)
def emb_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_similarity_matrix(emb).orderBy(
        "label_a", "label_b"
    )


@register(
    "docs_prefix_simjoin",
    bench=False,
    oracle=r"""
    WITH tf AS (
      SELECT DISTINCT doc_id,
             lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM documents),
    tfc AS (SELECT doc_id, tok FROM tf WHERE tok <> ''),
    df AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY tok),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tfc GROUP BY doc_id),
    rk AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.tok) AS rn
      FROM tfc t JOIN df d USING (tok)),
    pfx AS (
      SELECT r.doc_id, r.tok
      FROM rk r JOIN sz s USING (doc_id)
      WHERE r.rn <= s.n - CAST(FLOOR((9 * s.n + 9) / 10.0) AS BIGINT) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS i
      FROM cand c
      JOIN tfc x ON x.doc_id = c.da
      JOIN tfc y ON y.doc_id = c.db AND y.tok = x.tok
      GROUP BY c.da, c.db)
    SELECT i.da AS doc_a, i.db AS doc_b, i.i AS n_shared,
           x.n AS n_a, y.n AS n_b,
           CAST(i.i AS DOUBLE) / (x.n + y.n - i.i) AS jaccard
    FROM inter i JOIN sz x ON x.doc_id = i.da JOIN sz y ON y.doc_id = i.db
    WHERE 10 * i.i >= 9 * (x.n + y.n - i.i)
    ORDER BY doc_a, doc_b
    """,
    doc="Prefix-filtered set-similarity self-join (ppjoin family): all "
    "doc pairs with token-set Jaccard ≥ 0.9 WITHOUT the all-pairs "
    "product — tokens rank by global rarity, each doc exposes only its "
    "n−⌈0.9n⌉+1 rarest tokens as join keys (the prefix-filter lemma "
    "guarantees no false negatives), candidates verify by exact count "
    "with the integer cutoff 10·i ≥ 9·(n_a+n_b−i). The ⌈⌉ is integer "
    "arithmetic (FLOOR((9n+9)/10)) — no float threshold anywhere; "
    "jaccard divides once for reporting. The third dedup-ladder "
    "retrieval besides MinHash-LSH (probabilistic) and SimHash bands "
    "(hamming): exact, threshold-guaranteed, still bucket-joined.",
)
def docs_prefix_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tfc = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    df_t = tfc.groupBy("tok").agg(F.count("*").alias("df"))
    sz = tfc.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pfx = (
        tfc.join(df_t, "tok")
        .withColumn("rn", F.row_number().over(w))
        .join(sz, "doc_id")
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.floor((9 * F.col("n") + 9) / F.lit(10.0)).cast("long")
            + 1
        )
        .select("doc_id", "tok")
    )
    cand = (
        pfx.select(F.col("doc_id").alias("da"), "tok")
        .join(pfx.select(F.col("doc_id").alias("db"), "tok"), "tok")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    x = tfc.select(F.col("doc_id").alias("da"), F.col("tok"))
    y = tfc.select(F.col("doc_id").alias("db"), F.col("tok"))
    inter = (
        cand.join(x, "da")
        .join(y, ["db", "tok"])
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("da"), F.col("n").alias("n_a")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("n").alias("n_b")), "db")
        .filter(10 * F.col("i") >= 9 * (F.col("n_a") + F.col("n_b") - F.col("i")))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("i").alias("n_shared"),
            "n_a",
            "n_b",
            (F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "docs_countmin_freq",
    r"""
    WITH toks AS (
      SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM documents),
    tf AS (SELECT tok FROM toks WHERE tok <> ''),
    true_cnt AS (SELECT tok, COUNT(*) AS true_n FROM tf GROUP BY tok),
    probes AS (SELECT tok, true_n FROM true_cnt
               ORDER BY true_n DESC, tok LIMIT 10),
    cells AS (
      SELECT CAST(r.i AS INT) AS row,
             CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' || tok),
                                  1, 15))::BIGINT % 256 AS INT) AS cell,
             COUNT(*) AS cnt
      FROM tf CROSS JOIN range(4) r(i) GROUP BY 1, 2),
    est AS (
      SELECT p.tok, p.true_n, MIN(COALESCE(c.cnt, 0)) AS cm_est
      FROM probes p CROSS JOIN range(4) r(i)
      LEFT JOIN cells c
        ON c.row = CAST(r.i AS INT)
       AND c.cell = CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|'
                          || p.tok), 1, 15))::BIGINT % 256 AS INT)
      GROUP BY p.tok, p.true_n)
    SELECT tok AS term, true_n, CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - true_n AS BIGINT) AS overcount
    FROM est ORDER BY true_n DESC, term
    """,
    doc="Count-Min sketch frequency estimation "
    "(sketches.count_min_build/estimate, depth 4 × width 256): token "
    "counts estimated from a fixed 1 KB-per-task counter table, probed "
    "for the 10 highest-frequency terms beside their exact counts and "
    "the (always ≥ 0) overcount. The md5-derived row hashes make the "
    "sketch DETERMINISTIC with an exact SQL twin — hash-checkable "
    "where HLL/GK sketches are rows-only — and cell-wise MERGEABLE: "
    "per-shard sketches roll up with a groupBy-sum whose exchange "
    "carries ≤ depth·width rows, the keep-state-not-data pattern a "
    "100 TB pipeline needs for streaming frequency monitoring.",
)
def docs_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok0")
        )
        .select(F.lower(F.col("tok0")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    sketch = sketches.count_min_build(toks, "tok", depth=4, width=256)
    probes = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.desc("true_n"), "tok")
        .limit(10)
    )
    est = sketches.count_min_estimate(sketch, probes, "tok", depth=4, width=256)
    return est.select(
        F.col("tok").alias("term"),
        "true_n",
        "cm_est",
        (F.col("cm_est") - F.col("true_n")).cast("long").alias("overcount"),
    ).orderBy(F.desc("true_n"), "term")


@register(
    "emb_hard_negatives",
    f"""
    WITH q AS (SELECT seed, slabel, qv FROM (
                 SELECT vec_id AS seed, label AS slabel,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                 FROM embeddings WHERE vec_id < 20 AND {_EMB_OK})
               WHERE list_dot_product(qv, qv) > 0),
         c AS (SELECT negative, clabel, cv FROM (
                 SELECT vec_id AS negative, label AS clabel,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
                 FROM embeddings WHERE {_EMB_OK})
               WHERE list_dot_product(cv, cv) > 0),
         s AS (SELECT seed, negative,
                      list_dot_product(qv, cv)
                      / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS score
               FROM q CROSS JOIN c
               WHERE negative <> seed AND clabel <> slabel)
    SELECT seed, negative, score, rk FROM (
      SELECT seed, negative, score,
             ROW_NUMBER() OVER (PARTITION BY seed ORDER BY score DESC, negative) AS rk
      FROM s)
    WHERE rk <= 5 ORDER BY seed, rk
    """,
    doc="Hard-negative mining (similarity.hard_negatives): per seed, "
    "the top-5 most-similar embeddings with a DIFFERENT label — the "
    "contrastive-training negatives that actually move a loss. Same "
    "Arrow integer-matmul scorer and determinism contract as "
    "ann_cosine_top5 with a per-seed label mask; at 100 TB the scan "
    "swaps for the LSH/IVF candidate generators with the identical "
    "mask-and-rank tail.",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.hard_negatives(emb, seeds, k=5).orderBy("seed", "rk")


def _minhash_incr_oracle_sql() -> str:
    """Incremental twin of ``_minhash_oracle_sql``: the corpus
    (doc_id % 5 <> 0) is bucketed as the INDEX, the new batch
    (doc_id % 5 = 0) buckets join it on (band, bucket)."""
    from ..operators.dedup import minhash_params

    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(32, 42))
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    hx AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hx FROM sh),
    perms(i, a, b) AS (VALUES {perms}),
    mins AS (
      SELECT doc_id, p.i,
             MIN((hx % 2147483647 * p.a + p.b) % 2147483647) AS mh
      FROM hx CROSS JOIN perms p GROUP BY doc_id, p.i),
    bands AS (
      SELECT doc_id, i // 2 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
      FROM mins GROUP BY doc_id, i // 2)
    SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
    FROM bands n JOIN bands c ON n.band = c.band AND n.bucket = c.bucket
    WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
    ORDER BY new_doc, corpus_doc
    """


@register(
    "docs_incremental_minhash",
    _minhash_incr_oracle_sql(),
    doc="INCREMENTAL near-dup ingest (dedup.minhash_buckets / "
    "minhash_incremental_pairs, md5-portable config): the standing "
    "corpus (doc_id %% 5 <> 0) is materialized once as a (doc_id, "
    "band, bucket) LSH index; the new batch (doc_id %% 5 = 0) buckets "
    "equi-join the index — O(batch + collisions), corpus text never "
    "re-read. The near-dup sibling of docs_incremental_dedup's digest "
    "anti-join: together they are the production ingest pair (exact "
    "then near). Oracle replays both sides' full "
    "shingle->minhash->band pipeline.",
)
def docs_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = dedup.minhash_buckets(
        corpus, num_hashes=32, bands=16, seed=42, portable=True
    )
    return dedup.minhash_incremental_pairs(
        batch, index, num_hashes=32, bands=16, seed=42, portable=True
    ).orderBy("new_doc", "corpus_doc")


@register(
    "docs_bigram_fluency",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents),
    u AS (SELECT doc_id, split, unnest(t) AS tok,
                 generate_subscripts(t, 1) AS ord
          FROM toks),
    bg AS (SELECT a.doc_id, a.split, a.tok AS w1, b.tok AS w2
           FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
           WHERE a.tok <> '' AND b.tok <> ''),
    pair AS (SELECT w1, w2, COUNT(*) AS pair_n FROM bg
             WHERE split = 'train' GROUP BY w1, w2),
    pre AS (SELECT w1, CAST(SUM(pair_n) AS BIGINT) AS prefix_n
            FROM pair GROUP BY w1),
    sc AS (SELECT e.doc_id,
                  COALESCE(CAST((CAST(p.pair_n AS HUGEINT) * 1000000000)
                                // r.prefix_n AS BIGINT), 0) AS p_ppb,
                  CASE WHEN p.pair_n IS NULL THEN 1 ELSE 0 END AS novel
           FROM bg e
           LEFT JOIN pair p ON e.w1 = p.w1 AND e.w2 = p.w2
           LEFT JOIN pre r ON e.w1 = r.w1
           WHERE e.split = 'eval')
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(p_ppb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_cond_ppb,
           CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS novel_frac
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Bigram-LM fluency scoring (text.bigram_fluency): holdout docs "
    "scored against bigram conditionals learned from the train split — "
    "the log-free rendering of the n-gram-perplexity quality filter. "
    "Per eval doc: mean P(w2|w1) over its transitions in exact "
    "parts-per-billion ((pair_n*10^9) div prefix_n — integer-exact on "
    "both engines; DECIMAL(38,0)/HUGEINT product so a 100 TB head "
    "bigram cannot overflow) plus the novel-transition fraction; one "
    "IEEE division per output column at the end. Spark builds bigrams "
    "array-side (scan-fused) where the oracle self-joins on ordinality; "
    "scoring is a (w1,w2)-keyed equi-join — Zipf hot keys, AQE "
    "skew-join — then one map-side-combinable groupBy(doc_id).",
)
def docs_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_fluency(docs).orderBy("doc_id")


@register(
    "docs_bm25_search",
    r"""
    WITH toks AS (
      -- NULL-text contract (r12 sweep): NULL docs are outside the corpus
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL),
    u AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    per AS (SELECT doc_id,
                   COUNT(*) FILTER (WHERE tok <> '') AS dl,
                   COUNT(*) FILTER (WHERE tok = 'dup') AS tf_dup,
                   COUNT(*) FILTER (WHERE tok = 'vector') AS tf_vector,
                   COUNT(*) FILTER (WHERE tok = 'stream') AS tf_stream
            FROM u GROUP BY doc_id),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_len,
                 CAST(COUNT(*) FILTER (WHERE tf_dup > 0) AS BIGINT)
                   AS df_dup,
                 CAST(COUNT(*) FILTER (WHERE tf_vector > 0) AS BIGINT)
                   AS df_vector,
                 CAST(COUNT(*) FILTER (WHERE tf_stream > 0) AS BIGINT)
                   AS df_stream
          FROM per),
    sc AS (SELECT p.doc_id, CAST(p.dl AS BIGINT) AS dl,
                  CAST(p.tf_dup AS BIGINT) AS tf_dup,
                  CAST(p.tf_vector AS BIGINT) AS tf_vector,
                  CAST(p.tf_stream AS BIGINT) AS tf_stream,
        CASE WHEN p.tf_dup > 0 THEN CAST(
          (CAST(44 AS HUGEINT) * p.tf_dup * g.total_len
             * (2 * g.n_docs - 2 * g.df_dup + 1) * 1000000000)
          // ((CAST(20 AS HUGEINT) * p.tf_dup * g.total_len
             + 6 * g.total_len + 18 * p.dl * g.n_docs)
             * (2 * g.df_dup + 1)) AS BIGINT) ELSE 0 END AS s_dup_ppb,
        CASE WHEN p.tf_vector > 0 THEN CAST(
          (CAST(44 AS HUGEINT) * p.tf_vector * g.total_len
             * (2 * g.n_docs - 2 * g.df_vector + 1) * 1000000000)
          // ((CAST(20 AS HUGEINT) * p.tf_vector * g.total_len
             + 6 * g.total_len + 18 * p.dl * g.n_docs)
             * (2 * g.df_vector + 1)) AS BIGINT) ELSE 0 END
          AS s_vector_ppb,
        CASE WHEN p.tf_stream > 0 THEN CAST(
          (CAST(44 AS HUGEINT) * p.tf_stream * g.total_len
             * (2 * g.n_docs - 2 * g.df_stream + 1) * 1000000000)
          // ((CAST(20 AS HUGEINT) * p.tf_stream * g.total_len
             + 6 * g.total_len + 18 * p.dl * g.n_docs)
             * (2 * g.df_stream + 1)) AS BIGINT) ELSE 0 END
          AS s_stream_ppb
     FROM per p, g)
    SELECT doc_id, dl, tf_dup, tf_vector, tf_stream,
           s_dup_ppb, s_vector_ppb, s_stream_ppb,
           s_dup_ppb + s_vector_ppb + s_stream_ppb AS bm25_ppb,
           CAST(s_dup_ppb + s_vector_ppb + s_stream_ppb AS DOUBLE)
             / 1000000000.0 AS bm25
    FROM sc
    WHERE s_dup_ppb + s_vector_ppb + s_stream_ppb > 0
    ORDER BY bm25_ppb DESC, doc_id LIMIT 10
    """,
    doc="BM25 ranked retrieval (text.bm25_rank, k1=1.2 b=0.75): top-10 "
    "docs for {dup, vector, stream} with tf SATURATION and doc-length "
    "normalization — what plain tf-idf (docs_keyword_search) lacks. "
    "Every per-term score is ONE exact integer ratio in ppb: rational "
    "k1/b cleared to integer coefficients, log-free raw-odds idf "
    "(2N-2df+1)/(2df+1) (per-term rank-equivalent to log idf; "
    "transcendentals are not bit-stable), DECIMAL(38,0)/HUGEINT "
    "product, truncating div; fixed-column term sum; single final "
    "IEEE /1e9. Scale: tf and dl computed array-side (size/"
    "array_remove arithmetic — codegen, not interpreted lambda HOFs; "
    "no explode, zero shuffle), corpus stats are "
    "one single-row broadcast aggregate, ranking is "
    "TakeOrderedAndProject. No wide shuffle at any corpus size.",
)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_rank(docs)


@register(
    "docs_bloom_contamination",
    r"""
    WITH toks AS (
      -- NULL-text contract (r12 sweep): a NULL doc has NO shingles and is
      -- absent from the report — DuckDB's greatest() skips NULLs, so
      -- without the filter it manufactured one ''-shingle per NULL doc
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT DISTINCT doc_id, split, shingle FROM (
        SELECT doc_id, split,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' ')))
                 AS shingle
        FROM toks)),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
    hp AS (SELECT shingle,
                  ('0x' || substr(md5(shingle), 1 + 7 * i, 7))::BIGINT
                    % 258048 AS pos
           FROM tr, (SELECT unnest([0, 1, 2, 3]) AS i)),
    bloom AS (SELECT pos // 63 AS word_idx,
                     bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
              FROM hp GROUP BY pos // 63),
    ev AS (SELECT doc_id, shingle FROM sh WHERE split = 'eval'),
    ep AS (SELECT doc_id, shingle,
                  ('0x' || substr(md5(shingle), 1 + 7 * i, 7))::BIGINT
                    % 258048 AS pos
           FROM ev, (SELECT unnest([0, 1, 2, 3]) AS i)),
    fl AS (SELECT e.doc_id, e.shingle,
                  CASE WHEN (COALESCE(b.word, 0)
                             & (1::BIGINT << CAST(e.pos % 63 AS INT))) <> 0
                       THEN 1 ELSE 0 END AS hit
           FROM ep e LEFT JOIN bloom b ON e.pos // 63 = b.word_idx),
    mb AS (SELECT doc_id, shingle,
                  CASE WHEN SUM(hit) = 4 THEN 1 ELSE 0 END AS maybe
           FROM fl GROUP BY doc_id, shingle),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                  CAST(SUM(maybe) AS BIGINT) AS n_maybe
           FROM mb GROUP BY doc_id),
    vr AS (SELECT m.doc_id, CAST(COUNT(t.shingle) AS BIGINT) AS n_exact
           FROM mb m LEFT JOIN tr t ON m.shingle = t.shingle
           WHERE m.maybe = 1 GROUP BY m.doc_id)
    SELECT p.doc_id, p.n_shingles, p.n_maybe,
           COALESCE(v.n_exact, 0) AS n_exact,
           p.n_maybe - COALESCE(v.n_exact, 0) AS n_false_pos,
           CAST(COALESCE(v.n_exact, 0) AS DOUBLE)
             / CAST(p.n_shingles AS DOUBLE) AS contamination
    FROM pd p LEFT JOIN vr v ON p.doc_id = v.doc_id
    ORDER BY p.doc_id
    """,
    doc="Bloom-filter contamination screen (sampling.bloom_contamination"
    ", m=4096 words x 63 bits, 4 positions = disjoint 28-bit slices of "
    "ONE md5 per shingle): the SCALE path of "
    "docs_train_eval_contamination. Train 5-shingles -> mergeable "
    "bit_or Bloom build (<=4096 rows, map-side-combinable, broadcast); "
    "each holdout shingle probes with 4 broadcast-hash joins — ZERO "
    "shuffle until the per-doc rollup; only maybe-present candidates "
    "(exact hits + the measured n_false_pos tail) reach the exact "
    "verify join. contamination (n_exact/n_shingles) is definitionally "
    "identical to the exact operator; n_maybe/n_false_pos expose the "
    "FP rate the m/n/k sizing bounds. 63-bit words because DuckDB "
    "raises on 1::BIGINT << 63; md5 is the portable hash family.",
)
def docs_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.bloom_contamination(
        docs, {"train": 0.9, "eval": 0.1}
    ).orderBy("doc_id")


@register(
    "docs_winnow_overlap",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                   unnest(t) AS tok
            FROM toks),
    gr AS (SELECT doc_id, pos,
             CASE WHEN lead(tok, 3) OVER win IS NOT NULL THEN
               tok || ' ' || lead(tok, 1) OVER win || ' '
                   || lead(tok, 2) OVER win || ' '
                   || lead(tok, 3) OVER win
             END AS gram
           FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
    hp AS (SELECT doc_id, pos,
             ('0x' || substr(md5(gram), 1, 10))::BIGINT * 1048576
               + (1048575 - pos) AS hp
           FROM gr WHERE gram IS NOT NULL),
    sel AS (SELECT DISTINCT doc_id, sel_key FROM (
              SELECT doc_id, min(hp) OVER w2 AS sel_key,
                     count(*) OVER w2 AS n_in_win
              FROM hp
              WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
            WHERE n_in_win = 4),
    fp AS (SELECT DISTINCT doc_id, sel_key // 1048576 AS fp_hash FROM sel),
    rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 10),
    cap AS (SELECT f.doc_id, f.fp_hash FROM fp f JOIN rare USING (fp_hash)),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
           FROM cap GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM cap a JOIN cap b
             ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
    SELECT p.doc_a, p.doc_b, p.n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
           CAST(p.n_shared AS DOUBLE)
             / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) AS overlap
    FROM pr p JOIN sz sa ON p.doc_a = sa.doc_id
              JOIN sz sb ON p.doc_b = sb.doc_id
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20
    """,
    doc="Winnowing overlap report (dedup.winnow_overlap; Schleimer-"
    "Wilkerson-Aiken SIGMOD'03, the MOSS algorithm): hash every "
    "4-token gram (top-40 md5 bits — the portable hash), slide a "
    "4-gram window, select the window MIN with rightmost-position "
    "tiebreak (robust winnowing) via ONE packed-BIGINT window min "
    "(h*2^20 + (2^20-1-pos) — no engine-specific arg_min), then pair "
    "docs through an equi-join ON the selected hashes with a df<=10 "
    "stop-fingerprint cap (bounded fanout like LSH/ppjoin — never "
    "all-pairs). Guarantee: a shared run of >= w+k-1 = 7 tokens "
    "always yields a shared fingerprint while only ~2/(w+1) of grams "
    "are kept, and matches LOCALIZE (positions survive selection) — "
    "what MinHash sketches can't do. overlap = n_shared/least(n_a,"
    "n_b), exact ints, one IEEE divide; total order before LIMIT. "
    "Scale: lead-grams and the window min REUSE one per-doc sort "
    "(partitionBy doc_id — no global sort); selection drops ~2/(w+1) "
    "of rows before any join.",
)
def docs_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_overlap(docs)


@register(
    "docs_nb_lang_classifier",
    r"""
    WITH base AS (
      SELECT doc_id, lang, lower(trim(text)) AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents WHERE length(trim(text)) > 0),
    u AS (SELECT doc_id, lang, split,
                 unnest(string_split_regex(t, '\s+')) AS tok
          FROM base),
    ut AS (SELECT * FROM u WHERE tok <> ''),
    vocab AS (
      SELECT tok,
             COUNT(*) FILTER (WHERE lang = 'de') AS cnt_de,
             COUNT(*) FILTER (WHERE lang = 'en') AS cnt_en,
             COUNT(*) FILTER (WHERE lang = 'es') AS cnt_es,
             COUNT(*) FILTER (WHERE lang = 'fr') AS cnt_fr,
             COUNT(*) FILTER (WHERE lang = 'zh') AS cnt_zh
      FROM ut WHERE split = 'train' GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_size,
                   CAST(SUM(cnt_de) AS BIGINT) AS total_de,
                   CAST(SUM(cnt_en) AS BIGINT) AS total_en,
                   CAST(SUM(cnt_es) AS BIGINT) AS total_es,
                   CAST(SUM(cnt_fr) AS BIGINT) AS total_fr,
                   CAST(SUM(cnt_zh) AS BIGINT) AS total_zh
            FROM vocab),
    ev AS (SELECT doc_id, lang AS actual, tok,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ut WHERE split = 'eval' GROUP BY doc_id, lang, tok),
    sc AS (
      SELECT e.doc_id, e.actual,
        SUM(e.cnt * CAST((CAST(COALESCE(v.cnt_de, 0) AS HUGEINT) + 1)
            * 1000000000 // (t.total_de + t.v_size) AS BIGINT)) AS s_de,
        SUM(e.cnt * CAST((CAST(COALESCE(v.cnt_en, 0) AS HUGEINT) + 1)
            * 1000000000 // (t.total_en + t.v_size) AS BIGINT)) AS s_en,
        SUM(e.cnt * CAST((CAST(COALESCE(v.cnt_es, 0) AS HUGEINT) + 1)
            * 1000000000 // (t.total_es + t.v_size) AS BIGINT)) AS s_es,
        SUM(e.cnt * CAST((CAST(COALESCE(v.cnt_fr, 0) AS HUGEINT) + 1)
            * 1000000000 // (t.total_fr + t.v_size) AS BIGINT)) AS s_fr,
        SUM(e.cnt * CAST((CAST(COALESCE(v.cnt_zh, 0) AS HUGEINT) + 1)
            * 1000000000 // (t.total_zh + t.v_size) AS BIGINT)) AS s_zh
      FROM ev e LEFT JOIN vocab v USING (tok), tot t
      GROUP BY e.doc_id, e.actual),
    pd AS (SELECT actual,
             CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                       AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
                       THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS predicted
           FROM sc)
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pd GROUP BY actual, predicted ORDER BY actual, predicted
    """,
    doc="Linearized Naive-Bayes language classifier "
    "(text.nb_lang_classifier): fit Laplace-smoothed per-class token "
    "conditionals on the 90% hash split, score the 10% holdout, report "
    "the confusion matrix — the model-based twin of the docs_lang_id "
    "marker heuristic and the fastText-classifier pattern with the one "
    "classic model whose training is PURE COUNTING. cond_ppb(t,c) = "
    "((cnt+1)*1e9) div (total_c + V) exact ints (HUGEINT/DECIMAL(38)); "
    "doc score = sum of token conditionals (linearized, log-free — "
    "same contract as bigram_fluency); argmax with first-wins "
    "tiebreak in (de,en,es,fr,zh) order — every comparison exact. "
    "Scale: one vocabulary-keyed map-side-combinable shuffle to train, "
    "single-row broadcast totals, vocab equi-join to score (the BPE "
    "join shape), per-doc rollup. No all-pairs, no Python, no global "
    "sort.",
)
def docs_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.nb_lang_classifier(docs)


@register(
    "docs_dsir_importance",
    r"""
    WITH base AS (
      SELECT doc_id, lang, lower(trim(text)) AS t
      FROM documents WHERE length(trim(text)) > 0),
    u AS (SELECT doc_id, lang,
                 unnest(string_split_regex(t, '\s+')) AS tok
          FROM base),
    ut AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
           FROM u WHERE tok <> ''),
    st AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cf_r,
                  CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS cf_t
           FROM ut GROUP BY bucket),
    tt AS (SELECT CAST(SUM(cf_r) AS BIGINT) AS t_r,
                  CAST(SUM(cf_t) AS BIGINT) AS t_t FROM st),
    lf AS (SELECT bucket,
                  CAST((CAST(cf_t AS HUGEINT) + 1) * (t_r + 4096)
                       * 1000000000 // ((cf_r + 1) * (t_t + 4096))
                       AS BIGINT) AS lift_ppb
           FROM st, tt),
    pd AS (SELECT u.doc_id, u.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(SUM(l.lift_ppb) AS BIGINT) AS sum_lift
           FROM ut u JOIN lf l USING (bucket) GROUP BY u.doc_id, u.lang),
    fin AS (SELECT doc_id, lang, n_tokens,
                   sum_lift // n_tokens AS mean_lift_ppb
            FROM pd)
    SELECT doc_id, lang, n_tokens, mean_lift_ppb,
           CAST(mean_lift_ppb AS DOUBLE) / 1000000000.0 AS mean_lift
    FROM fin ORDER BY mean_lift_ppb DESC, doc_id LIMIT 25
    """,
    doc="DSIR data selection (text.dsir_importance; Xie et al. NeurIPS "
    "2023), linearized: score each doc by its hashed-unigram "
    "resemblance to the target domain (lang='en') vs the raw corpus, "
    "keep the top-25. Hashed features (md5 % 4096 — the portable hash) "
    "make the model FIXED-SIZE regardless of vocabulary — the property "
    "that lets DSIR run over an unbounded 100 TB token stream. "
    "lift_ppb(b) = ((cf_t+1)(T_r+B)*1e9) div ((cf_r+1)(T_t+B)) — "
    "Laplace-smoothed probability ratio as ONE exact integer "
    "(DECIMAL(38)/HUGEINT; the triple product overflows BIGINT at "
    "scale); doc score = sum of token lifts div n_tokens (linearized, "
    "log-free). Scale: target and raw bucket stats in ONE map-side-"
    "combinable groupBy (<=4096 rows, broadcast back), scoring is a "
    "broadcast-hash join + doc-keyed rollup, selection is "
    "TakeOrderedAndProject. No wide shuffle at any corpus size.",
)
def docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.dsir_importance(docs)


@register(
    "docs_phrase_search",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    h AS (SELECT doc_id,
                 list_filter(range(1, len(t)),
                             i -> t[i] = 'table' AND t[i+1] = 'scan')
                   AS hits
          FROM toks WHERE len(t) >= 2)
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
           CAST(hits[1] - 1 AS BIGINT) AS first_pos
    FROM h WHERE len(hits) > 0 ORDER BY doc_id
    """,
    doc="Exact-phrase retrieval (phrase 'table scan'): docs whose "
    "token stream contains the query tokens CONSECUTIVELY, with "
    "occurrence count and 0-based first position — the positional "
    "phrase query of classic IR, the retrieval mode bag-of-words "
    "tf-idf and BM25 cannot express. DEFAULT PLAN (swapped r8, "
    "VERDICT r7 ask #3): text.phrase_search_postings — coarse rlike "
    "superset-gate (codegen, no false negatives) -> posexplode "
    "CANDIDATES ONLY -> filter to the m phrase terms -> m-1 "
    "(doc, position)-keyed equi-joins, zero interpreted lambdas. "
    "Measured: 1.1x the DuckDB oracle at sf10 and 0.38x (WINS) at "
    "sf1, vs 8.8x at sf10 for the zero-shuffle HOF-verify twin "
    "(docs_phrase_search_hof) whose interpreted-lambda tax grows "
    "with candidate volume (BASELINE sec 10). Both variants stay "
    "registered and A/B-measured; the oracle is plan-independent.",
)
def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.phrase_search_postings(docs)


@register(
    "docs_phrase_search_hof",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    h AS (SELECT doc_id,
                 list_filter(range(1, len(t)),
                             i -> t[i] = 'table' AND t[i+1] = 'scan')
                   AS hits
          FROM toks WHERE len(t) >= 2)
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
           CAST(hits[1] - 1 AS BIGINT) AS first_pos
    FROM h WHERE len(hits) > 0 ORDER BY doc_id
    """,
    doc="Exact-phrase retrieval, ZERO-SHUFFLE variant "
    "(text.phrase_search): coarse JVM-regex prefilter (codegen, "
    "strict superset — no false negatives) then the exact array-side "
    "filter(sequence(...)) verify with OVERLAPPING-occurrence "
    "semantics on candidates only. No shuffle, no explode, no Python "
    "— embarrassingly parallel at any corpus size, but the verify "
    "lambda is interpreter-evaluated and its tax grows with candidate "
    "volume: 8.8x the oracle at sf10 vs 1.1x for the postings plan "
    "that is now the registered default (docs_phrase_search). Use "
    "this form when the phrase is rare (few candidates) and the "
    "doc-position shuffle of the postings joins costs more than the "
    "lambda; the A/B is in BASELINE sec 10.",
)
def docs_phrase_search_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.phrase_search(docs)


@register(
    "docs_collocations",
    r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2 AND t[i] <> '' AND t[i + 1] <> ''),
    pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_n
             FROM bg GROUP BY w1, w2),
    lft AS (SELECT w1, CAST(SUM(pair_n) AS BIGINT) AS left_n
            FROM pair GROUP BY w1),
    rgt AS (SELECT w2, CAST(SUM(pair_n) AS BIGINT) AS right_n
            FROM pair GROUP BY w2),
    tot AS (SELECT CAST(SUM(pair_n) AS BIGINT) AS b_total FROM pair)
    SELECT p.w1, p.w2, p.pair_n, l.left_n, r.right_n,
           CAST((CAST(p.pair_n AS HUGEINT) * t.b_total * 1000000000)
                // (l.left_n * r.right_n) AS BIGINT) AS lift_ppb
    FROM pair p JOIN lft l USING (w1) JOIN rgt r USING (w2), tot t
    WHERE p.pair_n >= 5
    ORDER BY lift_ppb DESC, w1, w2 LIMIT 20
    """,
    doc="Collocation extraction (text.collocations; Church & Hanks "
    "1990): top-20 adjacent pairs by log-free PMI — lift_ppb = "
    "(pair_n * B * 1e9) div (left_n * right_n), the exact-integer "
    "rank-equivalent of pointwise mutual information (log is monotone "
    "in the ratio; transcendentals are not bit-stable), DECIMAL(38)/"
    "HUGEINT product, min_count=5 low-frequency guard. What bigram "
    "COUNTS (docs_bigram_counts) can't surface: multiword expressions "
    "beat frequent-word pairs. Scale: one bigram explode into a "
    "map-side-combinable (w1,w2) count; marginals and the total derive "
    "FROM the pair table (no corpus re-scan — exchange reused); "
    "vocabulary-keyed marginal joins; TakeOrderedAndProject.",
)
def docs_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.collocations(docs)


@register(
    "docs_ngram_novelty",
    r"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS t,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents WHERE length(trim(text)) > 0),
    tk AS (SELECT doc_id, split, string_split_regex(t, '\s+') AS toks
           FROM base),
    ix AS (SELECT doc_id, split, toks,
                  unnest(generate_series(1, len(toks) - 2)) AS i FROM tk),
    g AS (SELECT doc_id, split,
                 array_to_string(toks[i:i+2], ' ') AS gram FROM ix),
    db AS (SELECT doc_id, split, gram, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, split, gram),
    tr AS (SELECT DISTINCT gram FROM db WHERE split = 'train'),
    ev AS (SELECT doc_id, gram, cnt FROM db WHERE split = 'eval')
    SELECT e.doc_id,
           CAST(SUM(e.cnt) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN t.gram IS NULL THEN e.cnt ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN t.gram IS NULL THEN e.cnt ELSE 0 END)
                AS DOUBLE)
             / CAST(SUM(e.cnt) AS DOUBLE) AS novel_frac
    FROM ev e LEFT JOIN tr t USING (gram)
    GROUP BY e.doc_id ORDER BY e.doc_id
    """,
    doc="Memorization / novelty screen (text.ngram_novelty): per "
    "HOLDOUT document, the fraction of its trigram occurrences never "
    "seen in the TRAIN split — the n-gram-overlap decontamination "
    "metric eval suites run before trusting a benchmark number, and "
    "the 'novel n-gram rate' of generation-novelty studies. Exact "
    "integers + ONE final IEEE divide. Scale: grams from 2 LEAD "
    "columns off ONE per-doc sort; the per-(doc,split,gram) "
    "pre-aggregate reuses the window's doc-keyed exchange (corpus "
    "exploded once); train distinct + holdout join are gram-keyed "
    "(vocabulary shuffles, not the corpus) — the BPE/NB join shape.",
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_novelty(docs).orderBy("doc_id")


@register(
    "docs_phrase_search_postings",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    h AS (SELECT doc_id,
                 list_filter(range(1, len(t)),
                             i -> t[i] = 'table' AND t[i+1] = 'scan')
                   AS hits
          FROM toks WHERE len(t) >= 2)
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
           CAST(hits[1] - 1 AS BIGINT) AS first_pos
    FROM h WHERE len(hits) > 0 ORDER BY doc_id
    """,
    doc="Exact-phrase retrieval via POSITIONAL POSTINGS self-joins "
    "(text.phrase_search_postings) — the MEASURED SCALE PATH for "
    "phrase queries (BASELINE sec 10): coarse rlike superset-gate "
    "(codegen, no false negatives) -> posexplode CANDIDATES ONLY -> "
    "filter to the m phrase terms (the postings an inverted index "
    "would hand us) -> m-1 (doc, position)-keyed equi-joins — zero "
    "interpreted lambdas, all codegen. At sf10: 7.0s = 1.1x the "
    "DuckDB oracle, vs 56.3s/8.8x for the HOF-verify twin "
    "(docs_phrase_search) whose lambda tax grows with volume.",
)
def docs_phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.phrase_search_postings(docs)


@register(
    "emb_semdedup",
    f"""
    WITH q AS (SELECT vec_id, qv FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings WHERE {_EMB_OK})
          WHERE list_dot_product(qv, qv) > 0),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, qv AS ccv
             FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(v.qv, v.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q v CROSS JOIN cent c)
      WHERE rk = 1),
    m AS (SELECT a.vec_id, a.qv, s.cell_id
          FROM q a JOIN assign s USING (vec_id)),
    p AS (SELECT x.cell_id, x.vec_id AS a, y.vec_id AS b,
                 list_dot_product(x.qv, y.qv)
                 / sqrt(list_dot_product(x.qv, x.qv)
                        * list_dot_product(y.qv, y.qv)) AS score
          FROM m x JOIN m y
            ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id),
    f AS (SELECT cell_id, a, b, score,
                 ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rk
          FROM p WHERE score >= 0.4)
    SELECT cell_id, a AS kept, b AS dropped, score
    FROM f WHERE rk = 1 ORDER BY dropped
    """,
    doc="SemDeDup (similarity.semdedup; Abbas et al. 2023): semantic "
    "dedup = coarse-cluster the embeddings (portable fixed centroids + "
    "exact quantized-cosine argmin, the ann_ivf_fixed assignment), "
    "then drop near-identical vectors WITHIN cells only — dropped iff "
    "a lower-id cell-mate scores >= 0.4, representative = smallest "
    "such id (deterministic greedy, integer tiebreaks). The cluster "
    "gate bounds candidates per cell instead of corpus² — the "
    "IVF/LSH bucketed-candidates contract. One broadcast assign pass; "
    "cell-keyed pair join; per-dropped-vector window.",
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_cells=8, threshold=0.4).orderBy("dropped")


@register(
    "emb_semdedup_greedy",
    f"""
    WITH RECURSIVE
    q AS (SELECT vec_id, qv FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings WHERE {_EMB_OK})
          WHERE list_dot_product(qv, qv) > 0),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, qv AS ccv
             FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(v.qv, v.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q v CROSS JOIN cent c)
      WHERE rk = 1),
    m AS (SELECT a.vec_id, a.qv, s.cell_id
          FROM q a JOIN assign s USING (vec_id)),
    p AS (SELECT x.cell_id, x.vec_id AS a, y.vec_id AS b,
                 list_dot_product(x.qv, y.qv)
                 / sqrt(list_dot_product(x.qv, x.qv)
                        * list_dot_product(y.qv, y.qv)) AS score
          FROM m x JOIN m y
            ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id),
    ed AS (SELECT cell_id, a, b, score FROM p WHERE score >= 0.4),
    verts AS (
      SELECT cell_id, v,
             ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY v) AS rnk
      FROM (SELECT DISTINCT cell_id, v FROM (
            SELECT cell_id, a AS v FROM ed UNION ALL
            SELECT cell_id, b AS v FROM ed))),
    g AS (
      SELECT cell_id, CAST(0 AS BIGINT) AS rnk,
             CAST([] AS BIGINT[]) AS kept_ids
      FROM (SELECT DISTINCT cell_id FROM verts)
      UNION ALL
      SELECT g.cell_id, v.rnk,
             CASE WHEN EXISTS (SELECT 1 FROM ed
                               WHERE ed.cell_id = g.cell_id AND ed.b = v.v
                                 AND list_contains(g.kept_ids, ed.a))
                  THEN g.kept_ids
                  ELSE list_append(g.kept_ids, v.v) END
      FROM g JOIN verts v ON v.cell_id = g.cell_id AND v.rnk = g.rnk + 1),
    fin AS (SELECT cell_id, kept_ids FROM (
              SELECT cell_id, kept_ids,
                     ROW_NUMBER() OVER (PARTITION BY cell_id
                                        ORDER BY rnk DESC) AS rr
              FROM g) WHERE rr = 1),
    drp AS (SELECT v.cell_id, v.v AS dropped
            FROM verts v JOIN fin f USING (cell_id)
            WHERE NOT list_contains(f.kept_ids, v.v)),
    rep AS (SELECT d.cell_id, d.dropped, MIN(ed.a) AS kept
            FROM drp d
            JOIN fin f ON f.cell_id = d.cell_id
            JOIN ed ON ed.cell_id = d.cell_id AND ed.b = d.dropped
                   AND list_contains(f.kept_ids, ed.a)
            GROUP BY d.cell_id, d.dropped)
    SELECT r.cell_id, CAST(r.kept AS BIGINT) AS kept,
           CAST(r.dropped AS BIGINT) AS dropped, ed.score
    FROM rep r JOIN ed ON ed.cell_id = r.cell_id AND ed.a = r.kept
                      AND ed.b = r.dropped
    ORDER BY dropped
    """,
    doc="SemDeDup with the PAPER-EXACT sequential-greedy drop rule "
    "(similarity.semdedup_greedy; Abbas et al. 2023 sec 3, the r7 "
    "ADVICE chain finding): scan each cluster in ascending id order, "
    "drop a vector iff a SURVIVING lower-id cell-mate scores >= 0.4 — "
    "so 'kept' is a true retained representative, and chains (0~1, "
    "1~2 >= t, 0~2 < t) keep 2 where the one-pass emb_semdedup "
    "over-drops it. Spark: the shared cell-gated candidate stage "
    "(broadcast assign + cell-keyed pair join, JVM-side scores) feeds "
    "one applyInPandas per cell replaying the paper's sequential scan "
    "over the BOUNDED per-cell edge list (the recursion is inherently "
    "sequential within a cell; cells are independent). Oracle: the "
    "same greedy as a recursive CTE stepping cell-rank with a kept_ids "
    "list accumulator — the full semantics replayed in SQL.",
)
def emb_semdedup_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_greedy(emb, n_cells=8, threshold=0.4).orderBy(
        "dropped"
    )


@register(
    "ann_pq_fixed_top5",
    f"""
    WITH q AS (SELECT vec_id, qv FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings WHERE {_EMB_OK})
          WHERE list_dot_product(qv, qv) > 0),
    subs AS (SELECT unnest(generate_series(0, 7)) AS sub_id),
    sub AS (SELECT q.vec_id, s.sub_id,
                   qv[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS sv
            FROM q CROSS JOIN subs s),
    cb AS (SELECT sub_id, CAST(vec_id AS INT) AS code, sv AS cv
           FROM sub WHERE vec_id < 16),
    enc AS (SELECT vec_id, sub_id, code FROM (
        SELECT v.vec_id, v.sub_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub_id ORDER BY
                 CAST(list_dot_product(v.sv, v.sv)
                      - 2 * list_dot_product(v.sv, c.cv)
                      + list_dot_product(c.cv, c.cv) AS BIGINT),
                 c.code) AS rk
        FROM sub v JOIN cb c USING (sub_id))
      WHERE rk = 1),
    lut AS (SELECT s.vec_id AS seed, s.sub_id, c.code,
                   CAST(list_dot_product(s.sv, s.sv)
                        - 2 * list_dot_product(s.sv, c.cv)
                        + list_dot_product(c.cv, c.cv) AS BIGINT) AS ldist
            FROM sub s JOIN cb c USING (sub_id) WHERE s.vec_id < 20),
    adc AS (SELECT l.seed, e.vec_id AS neighbor,
                   CAST(SUM(l.ldist) AS BIGINT) AS adc
            FROM enc e JOIN lut l ON e.sub_id = l.sub_id AND e.code = l.code
            WHERE e.vec_id <> l.seed
            GROUP BY l.seed, e.vec_id),
    cand AS (SELECT seed, neighbor FROM (
        SELECT seed, neighbor,
               ROW_NUMBER() OVER (PARTITION BY seed
                                  ORDER BY adc, neighbor) AS crk
        FROM adc) WHERE crk <= 20),
    scored AS (SELECT c.seed, c.neighbor,
                      list_dot_product(a.qv, b.qv)
                      / sqrt(list_dot_product(a.qv, a.qv)
                             * list_dot_product(b.qv, b.qv)) AS score
               FROM cand c
               JOIN q a ON a.vec_id = c.seed
               JOIN q b ON b.vec_id = c.neighbor)
    SELECT seed, neighbor, score, rk FROM (
      SELECT seed, neighbor, score,
             ROW_NUMBER() OVER (PARTITION BY seed
                                ORDER BY score DESC, neighbor) AS rk
      FROM scored)
    WHERE rk <= 5 ORDER BY seed, rk
    """,
    doc="PORTABLE product-quantization ANN (similarity."
    "pq_fixed_ann_topk): fixed integer codebook (subvectors of the "
    "first 16 vectors), exact-BIGINT L2 encode/LUT/ADC, refine*k "
    "candidates per seed, exact quantized-cosine re-rank — the whole "
    "PQ pipeline (encode -> asymmetric-distance scan -> re-rank) "
    "replayed relationally by the oracle, retiring the 'PQ is "
    "rows-only' caveat at small config exactly as ann_ivf_fixed_top5 "
    "and the VALUES-list LSH did. Lloyd-trained ann_pq_top5 stays the "
    "production twin. Scale shape: codes are the only corpus-sized "
    "table after encode; the ADC scan is one broadcast (sub,code) "
    "join; full vectors touched once for encode + once for the "
    "candidate re-rank equi-join.",
)
def ann_pq_fixed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.pq_fixed_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "docs_exact_substr_spans",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks) - 3)) AS i FROM base),
    g AS (SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+3], ' ') AS gram FROM ix),
    d AS (SELECT doc_id, pos,
                 COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g),
    dup AS (SELECT doc_id, pos FROM d WHERE cnt >= 2),
    flg AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > 4
                        THEN 1 ELSE 0 END AS brk
            FROM dup),
    isl AS (SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS island
            FROM flg),
    sp AS (SELECT doc_id, island,
                  CAST(MAX(pos) - MIN(pos) + 4 AS BIGINT) AS span_len
           FROM isl GROUP BY doc_id, island)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
           CAST(MAX(span_len) AS BIGINT) AS max_span_len
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Maximal duplicated-span detection (dedup.exact_substr_spans) "
    "— the distributed rendering of suffix-array ExactSubstr dedup "
    "(Lee et al. 2022): every position whose 4-token window occurs "
    ">= 2 times corpus-wide, merged into MAXIMAL per-doc spans via "
    "gaps-and-islands (break when the gap exceeds k). Where "
    "docs_span_dedup counts fixed non-overlapping blocks, this one "
    "SLIDES — a duplicated passage of any length >= k is recovered as "
    "one span with exact boundaries, no suffix array materialized. "
    "Plan: k-grams off ONE per-doc sort; corpus-wide occurrence count "
    "as a map-side-combinable groupBy over 16-byte gram digests + "
    "digest-keyed LEFT SEMI join-back (r8: replaced the unbounded "
    "gram-window — partial aggregation absorbs hot stopword-run grams "
    "before the shuffle, AQE skew-join splits the join); island merge "
    "= one doc-keyed window whose exchange the final per-doc rollup "
    "reuses. 4 shuffles, all codegen.",
)
def docs_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substr_spans(docs, k=4, min_count=2).orderBy("doc_id")


@register(
    "ann_ivf_pq_fixed_top5",
    f"""
    WITH q AS (SELECT vec_id, qv FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings WHERE {_EMB_OK})
          WHERE list_dot_product(qv, qv) > 0),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, qv AS ccv
             FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(v.qv, v.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q v CROSS JOIN cent c)
      WHERE rk = 1),
    probes AS (
      SELECT seed, cell_id FROM (
        SELECT s.vec_id AS seed, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                 list_dot_product(s.qv, c.ccv)
                 / sqrt(CAST(list_dot_product(s.qv, s.qv) AS DOUBLE)
                        * CAST(list_dot_product(c.ccv, c.ccv) AS DOUBLE)) DESC,
                 c.cell_id) AS rk
        FROM q s CROSS JOIN cent c WHERE s.vec_id < 20)
      WHERE rk <= 3),
    subs AS (SELECT unnest(generate_series(0, 7)) AS sub_id),
    sub AS (SELECT q.vec_id, s.sub_id,
                   qv[s.sub_id * 8 + 1 : s.sub_id * 8 + 8] AS sv
            FROM q CROSS JOIN subs s),
    cb AS (SELECT sub_id, CAST(vec_id AS INT) AS code, sv AS cv
           FROM sub WHERE vec_id < 16),
    enc AS (SELECT vec_id, sub_id, code FROM (
        SELECT v.vec_id, v.sub_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub_id ORDER BY
                 CAST(list_dot_product(v.sv, v.sv)
                      - 2 * list_dot_product(v.sv, c.cv)
                      + list_dot_product(c.cv, c.cv) AS BIGINT),
                 c.code) AS rk
        FROM sub v JOIN cb c USING (sub_id))
      WHERE rk = 1),
    lut AS (SELECT s.vec_id AS seed, s.sub_id, c.code,
                   CAST(list_dot_product(s.sv, s.sv)
                        - 2 * list_dot_product(s.sv, c.cv)
                        + list_dot_product(c.cv, c.cv) AS BIGINT) AS ldist
            FROM sub s JOIN cb c USING (sub_id) WHERE s.vec_id < 20),
    adc AS (SELECT l.seed, e.vec_id AS neighbor,
                   CAST(SUM(l.ldist) AS BIGINT) AS adc
            FROM enc e
            JOIN assign a ON a.vec_id = e.vec_id
            JOIN probes p ON p.cell_id = a.cell_id
            JOIN lut l ON l.seed = p.seed
                      AND l.sub_id = e.sub_id AND l.code = e.code
            WHERE e.vec_id <> l.seed
            GROUP BY l.seed, e.vec_id),
    cand AS (SELECT seed, neighbor FROM (
        SELECT seed, neighbor,
               ROW_NUMBER() OVER (PARTITION BY seed
                                  ORDER BY adc, neighbor) AS crk
        FROM adc) WHERE crk <= 20),
    scored AS (SELECT c.seed, c.neighbor,
                      list_dot_product(a.qv, b.qv)
                      / sqrt(list_dot_product(a.qv, a.qv)
                             * list_dot_product(b.qv, b.qv)) AS score
               FROM cand c
               JOIN q a ON a.vec_id = c.seed
               JOIN q b ON b.vec_id = c.neighbor)
    SELECT seed, neighbor, score, rk FROM (
      SELECT seed, neighbor, score,
             ROW_NUMBER() OVER (PARTITION BY seed
                                ORDER BY score DESC, neighbor) AS rk
      FROM scored)
    WHERE rk <= 5 ORDER BY seed, rk
    """,
    doc="PORTABLE IVF-PQ (similarity.ivf_pq_fixed_ann_topk): the full "
    "production ANN stack — coarse cell routing (fixed centroids, "
    "exact quantized-cosine argmin), PQ asymmetric-distance scan over "
    "PROBED CELLS ONLY (fixed integer codebook, exact-BIGINT "
    "encode/LUT/ADC), exact re-rank of refine*k candidates — replayed "
    "end-to-end by the oracle. Completes the ANN family: brute-force/"
    "LSH-md5/IVF-fixed/PQ-fixed/IVF-PQ-fixed all hash-checked; Lloyd/"
    "xxhash twins (ann_ivf_pq_top5) stay the perf path. Scale shape: "
    "codes partitioned BY CELL so a probe reads n_probe/K of the "
    "table; probes and LUT broadcast (planner-sized).",
)
def ann_ivf_pq_fixed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_pq_fixed_ann_topk(emb, seeds, k=5).orderBy("seed", "rk")


@register(
    "docs_tfidf_keywords",
    r"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS t
      FROM documents WHERE length(trim(text)) > 0),
    tk AS (SELECT doc_id, unnest(string_split_regex(t, '\s+')) AS term
           FROM base),
    tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk2 GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base),
    sc AS (SELECT f.doc_id, f.term, f.tf, d.df,
                  CAST(f.tf * n.n_docs AS DOUBLE) / d.df AS score
           FROM tf f JOIN dfq d USING (term), nd n),
    rked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term) AS rk
             FROM sc)
    SELECT doc_id, term, tf, df, score, CAST(rk AS BIGINT) AS rk
    FROM rked WHERE rk <= 3 ORDER BY doc_id, rk
    """,
    doc="Per-document keyword extraction (text.tfidf_keywords; Sparck "
    "Jones 1972): top-3 terms per doc by LINEAR-IDF tf-idf — score = "
    "tf * (N / df), the log-free rank form (N/df is monotone in "
    "log(N/df); one IEEE divide of exact int64s is bit-stable where "
    "log is not — the collocations pattern). Ranks TERMS within docs "
    "where BM25 ranks docs for a query: the keyword/tagging step of "
    "corpus curation. Plan: (doc,term) tf map-side-combinable off the "
    "explode; df FROM the tf table (vocabulary shuffle — exchange "
    "reuse collapses the re-explode when both branches shuffle; at "
    "broadcast-small volumes AQE trades the reuse for a broadcast tf "
    "side); N one broadcast row; doc-keyed top-k via WindowGroupLimit "
    "(k rows per doc survive BEFORE the exchange) with total order.",
)
def docs_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_keywords(docs, top_k=3).orderBy("doc_id", "rk")


def _gini_oracle_sql() -> str:
    """Structurally mirrored 26-letter replace() arithmetic — same
    expression tree as the Spark plan, no unnest (grapheme-splitting
    semantics differ across engines; length/replace do not)."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    cnt = {
        ch: f"(length(t) - length(replace(t, '{ch}', '')))" for ch in letters
    }
    total = " + ".join(cnt.values())
    sumsq = " + ".join(f"{c} * {c}" for c in cnt.values())
    return f"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS t
      FROM documents WHERE length(trim(text)) > 0),
    c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n,
                 CAST({sumsq} AS BIGINT)
                   + (length(t) - ({total})) * (length(t) - ({total}))
                   AS sumsq
          FROM base)
    SELECT doc_id, n AS n_chars_counted,
           CAST(n * n - sumsq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
    FROM c ORDER BY doc_id
    """


@register(
    "docs_char_gini",
    _gini_oracle_sql(),
    doc="Character-distribution diversity as GINI IMPURITY "
    "(text.char_gini): 1 - sum((c_i/n)^2) over 26 letters + pooled "
    "'other' — the exact-rational alternative to character entropy "
    "for low-diversity/spam screening (keyboard mash, repeated-char "
    "padding, template boilerplate score near 0; natural prose high). "
    "Entropy needs log (not bit-stable cross-engine); Gini is integer "
    "arithmetic + ONE IEEE divide, hash-exact by construction. Plan: "
    "ONE Arrow mapInPandas counting pass (C-speed str.count per "
    "letter) fused onto the scan — ZERO shuffle/explode at any corpus "
    "size; the r8 first rendering (26 Catalyst length/replace pairs, "
    "pure codegen) allocated a document copy per letter and measured "
    "76 s vs DuckDB's 5.3 s at sf10, so the batch form replaced it "
    "(BASELINE sec 11). The oracle keeps the replace expression tree "
    "(no char-unnest, whose grapheme semantics differ across "
    "engines); both count the same code points.",
)
def docs_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.char_gini(docs).orderBy("doc_id")


@register(
    "docs_gopher_rules",
    r"""
    WITH base AS (
      SELECT doc_id, trim(text) AS t, text AS raw
      FROM documents WHERE length(trim(text)) > 0),
    sig AS (
      SELECT doc_id,
             len(string_split_regex(lower(t), '\s+')) AS n_words,
             length(regexp_replace(t, '\s', '', 'g')) AS word_chars,
             length(t) - length(replace(t, '#', '')) AS n_hash,
             (length(t) - length(replace(t, '...', ''))) // 3 AS n_ellipsis,
             len(string_split(raw, chr(10))) AS n_lines,
             len(list_filter(string_split(raw, chr(10)),
                 l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS n_bullet,
             len(list_filter(string_split(raw, chr(10)),
                 l -> l LIKE '%...')) AS n_ell_lines,
             len(list_filter(string_split_regex(lower(t), '\s+'),
                 x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             len(list_filter(string_split_regex(lower(t), '\s+'),
                 x -> x IN ('the','be','to','of','and','that','have','with')))
               AS n_stop
      FROM base)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           n_words >= 50 AND n_words <= 100000 AS rule_word_count,
           3 * n_words <= word_chars AND word_chars <= 10 * n_words
             AS rule_mean_word_len,
           10 * (n_hash + n_ellipsis) <= n_words AS rule_symbol_ratio,
           10 * n_bullet <= 9 * n_lines AS rule_bullet_lines,
           10 * n_ell_lines <= 3 * n_lines AS rule_ellipsis_lines,
           5 * n_alpha >= 4 * n_words AS rule_alpha_words,
           n_stop >= 2 AS rule_stop_words,
           (n_words >= 50 AND n_words <= 100000)
             AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
             AND (10 * (n_hash + n_ellipsis) <= n_words)
             AND (10 * n_bullet <= 9 * n_lines)
             AND (10 * n_ell_lines <= 3 * n_lines)
             AND (5 * n_alpha >= 4 * n_words)
             AND (n_stop >= 2) AS keep
    FROM sig ORDER BY doc_id
    """,
    doc="The Gopher quality-filter rule bundle (text.gopher_rules; Rae "
    "et al. 2021 A1.1) — the standard pre-training heuristic gate: "
    "word-count bounds, mean-word-length bounds, symbol ratio, bullet/"
    "ellipsis line fractions, alpha-word fraction, stopword presence. "
    "Every rule an EXACT INTEGER comparison (3*n_words <= word_chars "
    "instead of mean >= 3.0 — no float thresholds, hash-exact). Plan: "
    "ONE Arrow mapInPandas pass computing every signal with C-speed "
    "string primitives, tokenization parity pinned (re.ASCII \\\\s == "
    "Java \\\\s, JVM-side lower) — zero shuffle, scan-fused. Third "
    "rendering, each measured at sf10: list_filter lambdas 52.9 s -> "
    "JVM regexp_count 21.9 s (the JVM regex engine is ~4x RE2) -> "
    "C-speed batch 12.6 s vs DuckDB 4.1 s (BASELINE sec 11).",
)
def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_rules(docs).orderBy("doc_id")


@register(
    "docs_dup_rate_by_source",
    """
    WITH base AS (SELECT source, lang, doc_id, md5(text) AS dig
                  FROM documents),
    sizes AS (SELECT dig, COUNT(*) AS grp_n FROM base GROUP BY dig),
    fl AS (SELECT b.source, b.lang, b.dig, s.grp_n
           FROM base b JOIN sizes s USING (dig))
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN grp_n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(COUNT(DISTINCT CASE WHEN grp_n >= 2 THEN dig END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN grp_n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM fl GROUP BY source, lang ORDER BY source, lang
    """,
    doc="Curation analytics (dedup.dup_rate_by_source): per-(source, "
    "lang) EXACT-duplicate rate — the report that decides which crawl "
    "sources to down-weight (a source of mostly byte-copies "
    "contributes far fewer effective tokens than its row count). "
    "Duplicated = md5 digest seen >= 2x CORPUS-WIDE (cross-source "
    "copies count for every holder; same digest convention as "
    "docs_exact_dup_groups). Plan: digest groupBy (map-side "
    "combinable), digest-keyed membership join (AQE-splittable), "
    "source x lang rollup. Exact counts + one IEEE divide.",
)
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_rate_by_source(docs).orderBy("source", "lang")


@register(
    "docs_langid_agreement",
    r"""
    WITH base AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
      FROM documents),
    sc AS (SELECT doc_id, lang,
             len(list_filter(t, x -> x IN ('the','and','of'))) AS h_en,
             len(list_filter(t, x -> x IN ('der','und','die'))) AS h_de,
             len(list_filter(t, x -> x IN ('le','et','la'))) AS h_fr,
             len(list_filter(t, x -> x IN ('el','y','de'))) AS h_es
           FROM base),
    cand AS (
      SELECT doc_id, lang, 'en' AS l, h_en AS h FROM sc
      UNION ALL SELECT doc_id, lang, 'de', h_de FROM sc
      UNION ALL SELECT doc_id, lang, 'fr', h_fr FROM sc
      UNION ALL SELECT doc_id, lang, 'es', h_es FROM sc),
    pred AS (SELECT doc_id, lang, l AS predicted_lang FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY h DESC, l DESC) AS rk
      FROM cand) WHERE rk = 1)
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
    doc="Label-vs-heuristic language QA (text.langid_agreement): the "
    "confusion matrix between the corpus's declared lang column and "
    "the marker-word language_scores prediction — the agreement "
    "report a curator reads before trusting EITHER signal for "
    "filtering (systematic disagreement on a slice = mislabeled "
    "ingest, not a bad classifier). Argmax ties resolve to the "
    "lexicographically greatest language on BOTH engines (array_max "
    "over (hits, lang) structs == rank by h DESC, l DESC). Plan: "
    "zero-shuffle marker-count scan + a |langs|x|langs| rollup.",
)
def docs_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.langid_agreement(docs).orderBy("lang", "predicted_lang")


@register(
    "emb_norm_outliers",
    f"""
    WITH n AS (SELECT vec_id,
                      list_dot_product(
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                      ) AS norm2
               FROM embeddings WHERE {_EMB_OK}),
    q AS (SELECT quantile_cont(norm2, 0.25) AS q1,
                 quantile_cont(norm2, 0.75) AS q3 FROM n),
    f AS (SELECT q1 - 1.5 * (q3 - q1) AS lo_fence,
                 q3 + 1.5 * (q3 - q1) AS hi_fence FROM q)
    SELECT vec_id, CAST(norm2 AS BIGINT) AS norm2, lo_fence, hi_fence,
           (norm2 < lo_fence OR norm2 > hi_fence) AS is_outlier
    FROM n, f ORDER BY vec_id
    """,
    doc="Embedding hygiene screen (similarity.norm_outliers): Tukey-"
    "fence outliers on the QUANTIZED squared norm — near-zero norms "
    "are failed encodes, huge norms degenerate inputs; either poisons "
    "cosine scoring and IVF training downstream. Exact-BIGINT norms; "
    "quartiles at p=.25/.75 interpolate on exact binary fractions "
    "(Spark percentile == DuckDB quantile_cont there); fences = two "
    "IEEE ops in pinned order. Scale: swap the exact percentile for "
    "approx_percentile (mergeable sketch) or fixed profiled fences — "
    "the flagging pass is a zero-shuffle scan against two broadcast "
    "scalars either way (docstring rule in SCALE sec 7.7 spirit).",
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.norm_outliers(emb).orderBy("vec_id")


def _minhash_calibration_oracle_sql() -> str:
    """Extends ``_minhash_oracle_sql``'s pipeline past candidates:
    per-pair signature-component match count (the MinHash estimate)
    next to exact shingle Jaccard and the signed error. Replays the
    same oversized-bucket drop as the engine (QUALIFY)."""
    from ..operators.dedup import MAX_BUCKET_DEFAULT, minhash_params

    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(32, 42))
    )
    max_bucket_size = MAX_BUCKET_DEFAULT
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE doc_id < 200),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 2),
                                     i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks)),
    hx AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hx FROM sh),
    perms(i, a, b) AS (VALUES {perms}),
    mins AS (
      SELECT doc_id, p.i,
             MIN((hx % 2147483647 * p.a + p.b) % 2147483647) AS mh
      FROM hx CROSS JOIN perms p GROUP BY doc_id, p.i),
    bands_all AS (
      SELECT doc_id, i // 2 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
      FROM mins GROUP BY doc_id, i // 2),
    bands AS (
      -- mirror the engine's oversized-bucket drop (quadratic guard)
      SELECT doc_id, band, bucket FROM bands_all
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id),
    mtch AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
      FROM cand c
      JOIN mins x ON x.doc_id = c.doc_a
      JOIN mins y ON y.doc_id = c.doc_b AND y.i = x.i
      GROUP BY c.doc_a, c.doc_b),
    szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM sh GROUP BY doc_id),
    intr AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT m.doc_a, m.doc_b, m.n_match,
           CAST(m.n_match AS DOUBLE) / 32 AS est_sim,
           COALESCE(i.n_inter, 0) AS n_inter,
           CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS BIGINT) AS n_union,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard,
           CAST(m.n_match AS DOUBLE) / 32
             - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS err
    FROM mtch m
    LEFT JOIN intr i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
    JOIN szs sa ON sa.doc_id = m.doc_a
    JOIN szs sb ON sb.doc_id = m.doc_b
    ORDER BY m.doc_a, m.doc_b
    """


@register(
    "docs_minhash_calibration",
    _minhash_calibration_oracle_sql(),
    doc="LSH calibration report (dedup.minhash_jaccard_calibration): "
    "for every banded-LSH candidate pair, the MinHash ESTIMATE "
    "(matching components / 32 — exact: 32 is a power of two) next "
    "to the TRUE shingle Jaccard (one IEEE divide of exact counts) "
    "and their signed error — the diagnostic run on a sample before "
    "trusting a (num_hashes, bands) config to sweep 100 TB. "
    "Component matching is a bounded zip_with over CANDIDATE pairs "
    "only; exact Jaccard joins the distinct-shingle table twice on "
    "(doc, shingle) — candidates only, never all-pairs. The oracle "
    "replays the full md5 permutation family verbatim.",
)
def docs_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.minhash_jaccard_calibration(docs).orderBy("doc_a", "doc_b")


@register(
    "docs_soft_dedup_weights",
    r"""
    WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    c AS (SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS dup_count
          FROM h GROUP BY content_hash)
    SELECT h.doc_id, c.dup_count,
           CAST(1000000000 // c.dup_count AS BIGINT) AS weight_ppb
    FROM h JOIN c USING (content_hash)
    ORDER BY h.doc_id
    """,
    doc="Soft deduplication (dedup.soft_dedup_weights; He et al. 2024 "
    "SoftDedup): every doc keeps a row with sampling weight 1/dup_count "
    "as an exact truncating ppb BIGINT — reweight duplicated content "
    "instead of dropping it, so each distinct CONTENT contributes one "
    "unit of expected training mass. Digest counts via map-side-"
    "combinable groupBy (a count-window over the hash would not "
    "combine and melts on the boilerplate hot key), one AQE-skew-split "
    "join back; the text column is never shuffled.",
)
def docs_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(docs).orderBy("doc_id")


@register(
    "docs_ccnet_buckets",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM documents),
    tf AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
    db AS (SELECT doc_id, lang, tok, COUNT(*) AS cnt
           FROM tf GROUP BY doc_id, lang, tok),
    cf AS (SELECT tok, SUM(cnt) AS cf FROM db GROUP BY tok),
    per AS (SELECT d.doc_id, d.lang,
                   CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
                   SUM(CAST(d.cnt AS HUGEINT) * c.cf) AS sum_cf
            FROM db d JOIN cf c USING (tok) GROUP BY d.doc_id, d.lang),
    k AS (SELECT doc_id, lang, n_tokens,
                 CAST((sum_cf * 1000000000) // n_tokens
                      AS BIGINT) AS commonness_ppb
          FROM per),
    b AS (SELECT doc_id, lang, n_tokens, commonness_ppb,
                 CAST(ntile(3) OVER (PARTITION BY lang
                      ORDER BY commonness_ppb DESC, doc_id) AS INT) AS bucket
          FROM k)
    SELECT doc_id, lang, n_tokens, commonness_ppb, bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       WHEN 3 THEN 'tail'
                       ELSE CAST(bucket AS VARCHAR) END AS tier
    FROM b ORDER BY doc_id
    """,
    doc="CCNet head/middle/tail bucketing (text.ccnet_buckets; Wenzek "
    "et al. 2020): per-language NTILE(3) over the log-free commonness "
    "key (sum_cf*10^9) div n_tokens — one exact BIGINT ratio, rank-"
    "equivalent to the negative unigram log-perplexity CCNet sorts by "
    "(transcendentals are not bit-stable cross-engine; the monotone "
    "integer ratio is). doc_id tiebreak makes tile assignment a total "
    "order. Scale: token stats exactly as docs_unigram_commonness; the "
    "per-lang NTILE window is the documented non-scalable piece (a "
    "handful of partition keys = one executor's sort per language) — "
    "the 100 TB swap is approx_percentile cutoffs per lang broadcast "
    "back, kept out of the default plan because approximate cutoffs "
    "are not oracle-exact.",
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.ccnet_buckets(docs).orderBy("doc_id")


def _bm25_ranked_cte(terms: tuple[str, ...], s: str, depth: int) -> str:
    """DuckDB CTE fragment replaying text.bm25_rank's exact-integer BM25
    (k1=6/5, b=3/4 -> cleared coefficients 44/20/6/18 — see bm25_rank's
    docstring derivation) for one term set, ranked and truncated to
    ``depth``. Suffix ``s`` namespaces the CTEs so two rankers coexist
    in one WITH clause."""
    tf_cols = ",\n".join(
        f"             COUNT(*) FILTER (WHERE tok = '{t}') AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n".join(
        f"            CAST(COUNT(*) FILTER (WHERE tf_{i} > 0) AS BIGINT) AS df_{i}"
        for i in range(len(terms))
    )
    score_cols = ",\n".join(
        f"""        CASE WHEN p.tf_{i} > 0 THEN CAST(
          (CAST(44 AS HUGEINT) * p.tf_{i} * g.total_len
             * (2 * g.n_docs - 2 * g.df_{i} + 1) * 1000000000)
          // ((CAST(20 AS HUGEINT) * p.tf_{i} * g.total_len
             + 6 * g.total_len + 18 * p.dl * g.n_docs)
             * (2 * g.df_{i} + 1)) AS BIGINT) ELSE 0 END AS s_{i}"""
        for i in range(len(terms))
    )
    total = " + ".join(f"s_{i}" for i in range(len(terms)))
    return f"""
    per{s} AS (SELECT doc_id,
             COUNT(*) FILTER (WHERE tok <> '') AS dl,
{tf_cols}
            FROM u GROUP BY doc_id),
    g{s} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_len,
{df_cols}
          FROM per{s}),
    sc{s} AS (SELECT p.doc_id,
{score_cols}
     FROM per{s} p, g{s} g),
    rk0{s} AS (SELECT doc_id,
                  CAST(row_number() OVER
                       (ORDER BY {total} DESC, doc_id) AS BIGINT) AS rnk
           FROM sc{s} WHERE {total} > 0),
    rk{s} AS (SELECT doc_id, rnk FROM rk0{s} WHERE rnk <= {depth})"""


def _rrf_fusion_oracle_sql() -> str:
    a = _bm25_ranked_cte(("dup", "vector", "stream"), "a", 50)
    b = _bm25_ranked_cte(("merge", "window", "batch"), "b", 50)
    return rf"""
    WITH toks AS (
      -- NULL-text contract (r12 sweep): NULL docs are outside the corpus
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL),
    u AS (SELECT doc_id, unnest(t) AS tok FROM toks),{a},{b}
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           a.rnk AS rank_a, b.rnk AS rank_b,
           CAST(COALESCE(1000000000 // (60 + a.rnk), 0)
              + COALESCE(1000000000 // (60 + b.rnk), 0) AS BIGINT) AS rrf_ppb
    FROM rka a FULL OUTER JOIN rkb b ON a.doc_id = b.doc_id
    ORDER BY rrf_ppb DESC, doc_id LIMIT 10
    """


@register(
    "docs_rrf_fusion",
    _rrf_fusion_oracle_sql(),
    doc="Reciprocal-rank fusion (text.rrf_fusion; Cormack et al. 2009): "
    "fuse two BM25 rankers over different query formulations by "
    "sum(10^9 div (60 + rank)) — the multi-query RAG retrieval pattern "
    "(query rewriting -> rank each -> RRF). Ranks are row_number over "
    "(score desc, doc_id), a total order; every contribution is an "
    "exact truncating BIGINT, so the fused score never sums IEEE "
    "reciprocals. Scale: the only full-corpus work is the two zero-"
    "shuffle BM25 scan-aggregates ending in TakeOrderedAndProject(50); "
    "the rank windows and fusion join run on two 50-row frames. The "
    "oracle replays the cleared-coefficient BM25 integer arithmetic "
    "verbatim per term set.",
)
def docs_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.rrf_fusion(docs)


@register(
    "emb_sq8_error",
    rf"""
    WITH p AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS d,
             CAST(ROUND(unnest(embedding) * 1000) AS BIGINT) AS q
      FROM embeddings WHERE {_EMB_FINITE_OR_NULL}),
    s AS (SELECT d, MIN(q) AS mn, MAX(q) AS mx FROM p GROUP BY d),
    j AS (SELECT p.vec_id, p.q, s.mn,
                 GREATEST(s.mx - s.mn, 1) AS span
          FROM p JOIN s USING (d)),
    e AS (SELECT vec_id,
                 ABS(q - (mn + ((((q - mn) * 255) // span) * span) // 255))
                   AS err
          FROM j)
    SELECT vec_id,
           CAST(MAX(err) AS BIGINT) AS max_err_q,
           CAST(SUM(err) AS BIGINT) AS sum_err_q,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mean_err_q
    FROM e GROUP BY vec_id ORDER BY vec_id
    """,
    doc="INT8 scalar-quantization audit (similarity."
    "sq8_quantization_error; Faiss ScalarQuantizer QT_8bit semantics): "
    "per-dim min/max ramps, 0..255 codes, reconstruction and per-"
    "vector |error| rollup — all exact BIGINT arithmetic on the "
    "standard round(x*1000) quantization, truncating division both "
    "directions, one final IEEE mean. The is-8-bits-enough question "
    "answered per vector before committing a serving fleet's RAM to "
    "the 4x compression. Scale: one explode, a 64-row per-dim stats "
    "broadcast, map-side code/error projection, one vec-keyed "
    "combinable aggregate.",
)
def emb_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_quantization_error(emb).orderBy("vec_id")
