"""Similarity search over embedding columns (array<float>).

Every ANN operator here is one filter-then-verify pipeline (REPOSE's
shape): **route** a seed to part of the corpus, generate **candidates**
there, then **re-rank** the candidates exactly. Only the middle stage
differs between operators; each stage is written once:

- route: ``_probe`` picks each seed's ``n_probe`` nearest IVF cells
  (``ivf_ann_topk``, ``ivf_pq_ann_topk``, ``ivf_pq_fixed_ann_topk``);
  ``_assign_to_centroids`` puts each corpus vector in its nearest cell;
- candidates: LSH buckets (``lsh_buckets``), IVF cell members, a PQ
  asymmetric-distance scan over codes — numpy over the Lloyd codebook
  (``_codebook_matrices``) or relational over the fixed integer
  codebook (``_pq_fixed_codes`` + ``_adc_candidates``);
- re-rank: ``_rerank`` scores each (seed, neighbor) candidate by exact
  quantized cosine (``_cosine``) and keeps the top k by (score desc,
  neighbor asc) (``_topk``). ``cosine_topk_bruteforce`` is the baseline
  with every corpus vector a candidate; the near-dup and SemDeDup pair
  operators score their a < b pairs with the same ``_cosine``
  (``_pair_scores``).

Determinism contract (for oracle comparison): embeddings are quantized
to BIGINT (round(x·1000)) so every dot product / norm is an exact
integer — float-summation order stops mattering — and the score is one
BIGINT→DOUBLE cast of the dot, one sqrt of the BIGINT norm product, one
divide, so Spark and DuckDB produce bit-identical DOUBLE cosines.
Checkpoints (LSH bucket tables, Lloyd rounds) go through
``superstep.cut`` / ``superstep.supersteps``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import QUANT, dot as _dot, dot_double as _dot_d, quantize
from .superstep import cut, supersteps

# Quadratic-hot-spot guard for the hyperplane-LSH family (mirrors
# dedup.MAX_BUCKET_DEFAULT for the minhash/simhash family): a (band,
# bucket) whose membership exceeds this is dropped before any pair/
# candidate join. Oracles interpolate this constant (never a literal)
# so plan and oracle cannot silently diverge if it changes.
MAX_BUCKET_DEFAULT = 4096


def _finite_vector(c: Column) -> Column:
    """True iff the array has no NULL components and every component is
    finite. Collection expressions only — the one caveat, measured:

    - NULL components: ``size(array_compact(c)) == size(c)``
      (array_compact strips NULLs). Catalyst rewrites array_compact to
      a ``filter(x -> isnotnull(x))`` HOF, so this clause DOES carry a
      per-element lambda — but an isnotnull lambda, not the
      round/cast/aggregate bodies the r8 ann_cosine lesson banned:
      A/B on a 2M x 64 cached corpus measured 0.47 s vs 0.37 s for a
      sort_array/get rewrite vs 0.41 s for no NULL check at all —
      all within session noise (~50 ns/row), so the clearest form
      stays.
    - NaN / ±Inf: ``mx = greatest(array_max(c), -array_min(c))`` is the
      max absolute component; any NaN makes array_max (and greatest)
      NaN because Spark orders NaN ABOVE every value — so ``mx < +Inf``
      is False for both a NaN component (NaN compares greater than Inf
      in Spark SQL, unlike IEEE) and a ±Inf one, and NULL for an empty
      array (array_max of [] is NULL) — dropped either way.
    """
    mx = F.greatest(F.array_max(c), -F.array_min(c)).cast("double")
    return (F.size(F.array_compact(c)) == F.size(c)) & (mx < F.lit(float("inf")))


def drop_invalid_embeddings(
    df: DataFrame, col: str = "embedding", dims: int | None = None
) -> DataFrame:
    """Invalid-vector contract (r12 NULL-input sweep, waves 2-3): drop
    rows whose vector is NULL, has NULL components, has non-finite
    (NaN/±Inf) components, or (when ``dims`` is given) has the wrong
    length.

    Each class is a CRASH, not a wrong answer, somewhere in this
    module: a None row or a ragged row inside an Arrow batch blows up
    ``np.array(batch.tolist())`` (inhomogeneous shape); a NaN/Inf
    component blows up the engine-wide quantize on BOTH engines
    (ANSI-mode ``CAST(NaN AS BIGINT)`` throws in Spark, the same
    conversion errors in DuckDB) — so "keep them" is not even
    SQL-expressible, and dropping at entry is the only portable
    contract. Oracles mirror with ``embedding IS NOT NULL AND
    len(embedding) = <dims> AND list_bool_and(list_transform(embedding,
    x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE))))``.

    AGGREGATE-class operators (``label_centroids``,
    ``centroid_similarity_matrix``, ``sq8_quantization_error``) use
    ``drop_nonfinite_embeddings`` instead: NULL rows stay (they count
    as members but explode to nothing — SQL-natural on both engines,
    the wave-2 contract) and ragged rows stay (per-dim explode
    semantics are well-defined at any length); only the crash-class
    non-finite rows go — the same split as the events NULL-ts contract
    (rollups keep NULL groups; ordered/keyed ops drop NULL keys)."""
    c = F.col(col)
    keep = c.isNotNull() & _finite_vector(c)
    if dims is not None:
        keep = keep & (F.size(c) == dims)
    return df.filter(keep)


def drop_nonfinite_embeddings(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Aggregate-class guard (see ``drop_invalid_embeddings``): drop
    ONLY rows whose vector is present but carries a NULL or non-finite
    component — the class that crashes the quantize cast on both
    engines. NULL rows and ragged rows pass through. Oracles mirror
    with ``embedding IS NULL OR (len-and-finite check)``."""
    c = F.col(col)
    return df.filter(c.isNull() | _finite_vector(c))


def drop_unsearchable(
    df: DataFrame, col: str = "embedding", dims: int | None = None
) -> DataFrame:
    """Cosine-family entry contract: ``drop_invalid_embeddings`` PLUS
    quantized-zero-norm vectors — cosine is undefined for the zero
    vector, and under ANSI mode the JVM-side ``/ sqrt(qn·cn)`` THROWS
    DIVIDE_BY_ZERO instead of producing the NaN the Arrow paths
    already mask out. Excluding them at entry (not per division site)
    is what keeps the fixed-pipeline oracles exact: candidate CUTS
    (``refine·k``, ``n_probe``) happen before the final re-rank, so a
    zero vector holding a candidate slot on one engine but not the
    other would shift the survivors.

    Zero-norm test, exact vs the engine-wide quantize (round
    half-away-from-zero of x·1000): every component rounds to 0 ⟺
    max|x|·1000 < 0.5. ``array_max``/``array_min``/``greatest`` are
    plain codegen expressions, not interpreted lambda HOFs, so the
    check adds no per-element lambda tax on the hot path; IEEE multiply
    by a positive constant is monotone, so max-then-scale equals
    scale-then-max bit-exactly. Oracles additionally mirror with
    ``list_dot_product(qv, qv) > 0`` on the already-guarded subquery."""
    c = F.col(col)
    mx = F.greatest(F.array_max(c), -F.array_min(c)).cast("double") * 1000.0
    return drop_invalid_embeddings(df, col, dims).filter(mx >= 0.5)


def _np_quantize(mat: np.ndarray, scale: int = 1000) -> np.ndarray:
    """Numpy twin of ``functions.vectors.quantize`` — EXACTLY Spark's
    ``round(CAST(x AS DOUBLE) * scale, 0)`` (BigDecimal HALF_UP = half
    away from zero on the exact binary value), which is also DuckDB's
    ``round``. ``np.round`` would be wrong at ties (half-to-even: a
    float32-exact input like 0.0625 gives v = 62.5 exactly → Spark 63,
    np.round 62). floor(v + 0.5) / ceil(v − 0.5) is exact half-up/
    half-down because the add is EXACT for |v| < 2^51 (0.5 is a power
    of two; ulp(v) ≤ 0.5 there, so v ± 0.5 is representable), and the
    float64 multiply x*scale is the same IEEE op the JVM performs.
    Embedding magnitudes are O(1) → |v| ~ scale, far below 2^51.
    """
    v = mat.astype(np.float64) * scale
    return np.where(
        v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)
    ).astype(np.int64)


def _quantized(
    df: DataFrame, id_as: str = "vec_id", v: str = "qv", n: str = "qn"
) -> DataFrame:
    """(id_as, v, n): each row's ``vec_id``, its quantized embedding and
    that vector's exact BIGINT squared norm."""
    vid = F.col("vec_id") if id_as == "vec_id" else F.col("vec_id").alias(id_as)
    return df.select(vid, quantize(F.col("embedding")).alias(v)).withColumn(
        n, _dot(F.col(v), F.col(v))
    )


def _cosine(u: str, v: str, nu: str, nv: str) -> Column:
    """The quantized cosine of vectors ``u``, ``v`` with squared norms
    ``nu``, ``nv``: the exact BIGINT dot cast to DOUBLE once, over one
    sqrt of the BIGINT norm product — the expression the oracles replay."""
    return _dot(F.col(u), F.col(v)).cast("double") / F.sqrt(
        (F.col(nu) * F.col(nv)).cast("double")
    )


def _cell_cosine() -> Column:
    """Cosine of a vector (qv, qn) to a centroid (ccv, ccn). Centroids
    may be Lloyd means (array<double>), so the dot has a DOUBLE
    accumulator and each norm is cast on its own."""
    return _dot_d(F.col("qv"), F.col("ccv")) / F.sqrt(
        F.col("qn").cast("double") * F.col("ccn").cast("double")
    )


def _topk(
    scored: DataFrame,
    k: int,
    key: str = "seed",
    item: str = "neighbor",
    score: str = "score",
) -> DataFrame:
    """(key, item, score, rk): the ``k`` best items per key by (score
    desc, item asc) — a total order, so ties never depend on partitioning."""
    w = Window.partitionBy(key).orderBy(F.desc(score), F.asc(item))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(key, item, score, "rk")
    )


def _rerank(
    cand: DataFrame, seeds: DataFrame, embeddings: DataFrame, k: int
) -> DataFrame:
    """The exact stage of every ANN pipeline: score each (seed,
    neighbor) candidate by quantized cosine and keep each seed's top k.

    Quantization stays on the per-vector sides, before the candidate
    join: a vector takes part in many candidate pairs, so per-vector
    quantize + norm is the cheaper side (per-candidate evaluation
    regressed the LSH path, measured r12). Seeds are planner-sized
    (LIMIT-bounded in every caller) and broadcast."""
    q = _quantized(seeds, "seed")
    c = _quantized(embeddings, "neighbor", "cv", "cn")
    scored = (
        cand.join(F.broadcast(q), "seed")
        .join(c, "neighbor")
        .select("seed", "neighbor", _cosine("qv", "cv", "qn", "cn").alias("score"))
    )
    return _topk(scored, k)


def _pair_scores(pairs: DataFrame, threshold: float, *keys: str) -> DataFrame:
    """(keys…, a, b, score) for joined pairs carrying (a, qa, na) and
    (b, qb, nb): the quantized cosine of each pair, kept when it
    reaches ``threshold``."""
    return pairs.select(
        *keys, "a", "b", _cosine("qa", "qb", "na", "nb").alias("score")
    ).filter(F.col("score") >= threshold)


def _probe(seeds: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """(seed, cell_id): each seed's ``n_probe`` nearest cells by cosine,
    ties to the lower cell id. Seeds and centroids are both
    planner-sized, so the cross join is broadcast. A zero-norm centroid
    is skipped, as in ``_assign_to_centroids``: no vector is assigned to
    it, and the cosine would divide by zero."""
    centroids = centroids.filter(F.col("ccn") > 0)
    scores = F.broadcast(_quantized(seeds, "seed")).join(F.broadcast(centroids))
    scores = scores.select("seed", "cell_id", _cell_cosine().alias("cscore"))
    return _topk(scores, n_probe, item="cell_id", score="cscore").select(
        "seed", "cell_id"
    )


def _scan_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int,
    item: str,
    label: str | None = None,
) -> DataFrame:
    """(seed, ``item``, score, rk): each seed's top-k corpus vectors by
    quantized cosine, every searchable corpus vector a candidate; with
    ``label``, only vectors whose label differs from the seed's.

    Seeds are collected (planner-sized by construction — same contract
    as the IVF/PQ codebook collects) and closed over an Arrow
    ``mapInPandas`` scorer: each corpus batch is one integer numpy
    matmul against the seed matrix — dense linear algebra is where
    Arrow-batched numpy IS the vectorized path (Catalyst's higher-order
    zip_with/aggregate functions run interpreted, measured ~9x slower
    at sf1). Each batch emits only its per-seed top-k under the total
    order (score desc, item asc) — a superset of the global top-k
    regardless of batch boundaries — so the final window ranks
    ~batches*k*|seeds| rows, not |corpus|*|seeds|.

    Quantization happens INSIDE the Arrow batch (``_np_quantize`` —
    exact Spark/DuckDB ROUND half-away-from-zero, see its proof), not
    as a Catalyst ``transform`` lambda on the corpus side, where the
    interpreted-HOF tax on |corpus|·dims elements measured 0.71 s of
    the brute-force query's 1.2 s wall at sf1.

    Determinism: quantized BIGINT dots and norms, one int->double cast
    each, one multiply, one sqrt, one divide — bit-identical to the SQL
    oracle's expression (same IEEE op sequence, numpy or JVM).
    """
    embeddings = drop_unsearchable(embeddings)
    seeds = drop_unsearchable(seeds)
    extra = []
    if label:
        # NULL labels can never satisfy the different-label predicate
        # (SQL `<>` is NULL-unknown on either side), and a None in the
        # numpy int64 label array crashes the Arrow batch — filter
        # JVM-side; the oracle's <> drops the same rows without a filter.
        embeddings = embeddings.filter(F.col(label).isNotNull())
        seeds = seeds.filter(F.col(label).isNotNull())
        extra = [label]
    seed_rows = seeds.select("vec_id", "embedding", *extra).collect()
    # The scorer is dims-agnostic (media features are 8-dim, the
    # embeddings table 64), so the scoring dimensionality is inferred
    # from the seeds: modal length, ties to the smaller. Seeds and
    # corpus rows of any other length (schema corruption) are dropped
    # so a ragged row can never reach the Arrow matmul; oracles mirror
    # with len(embedding) = <dims>.
    from collections import Counter

    lens = Counter(len(r["embedding"]) for r in seed_rows)
    dims = max(lens, key=lambda d: (lens[d], -d)) if lens else 0
    seed_rows = sorted(
        (r for r in seed_rows if len(r["embedding"]) == dims),
        key=lambda r: r["vec_id"],
    )
    embeddings = embeddings.filter(F.size("embedding") == dims)
    sid = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    # reshaped so that no seeds is a (0, 0) matrix and scores nothing
    smat = _np_quantize(
        np.array([r["embedding"] for r in seed_rows], dtype=np.float64).reshape(
            len(seed_rows), dims
        )
    )
    sn = (smat * smat).sum(axis=1)
    slab = np.array([r[label] for r in seed_rows], dtype=np.int64) if label else None

    def score_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = _np_quantize(np.array(pdf["emb"].tolist(), dtype=np.float64))
            cn = (cmat * cmat).sum(axis=1)
            # cosine is undefined for the zero vector: a 0-norm row would
            # score NaN, which numpy's lexsort and Spark's window order
            # DIFFERENTLY (partition-dependent output). Exclude them from
            # candidacy outright — same rule on every engine.
            nz = cn > 0
            ids, cmat, cn = pdf["vec_id"].to_numpy(np.int64)[nz], cmat[nz], cn[nz]
            labs = pdf[label].to_numpy(np.int64)[nz] if label else None
            if ids.size == 0:
                continue
            ip = cmat @ smat.T  # (batch, seeds) exact int64
            score = ip.astype(np.float64) / np.sqrt(
                (cn[:, None] * sn[None, :]).astype(np.float64)
            )
            out = []
            for j in range(sid.shape[0]):
                if sn[j] == 0:  # zero-norm seed: no defined neighbors
                    continue
                mask = ids != sid[j]
                if label:
                    mask &= labs != slab[j]
                idj, scj = ids[mask], score[mask, j]
                if idj.size == 0:
                    continue
                top = np.lexsort((idj, -scj))[: min(k, idj.size)]
                out.append(
                    pd.DataFrame({"seed": sid[j], item: idj[top], "score": scj[top]})
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = embeddings.select(
        "vec_id", F.col("embedding").alias("emb"), *extra
    ).mapInPandas(score_batches, f"seed long, {item} long, score double")
    return _topk(scored, k, item=item)


def cosine_topk_bruteforce(
    embeddings: DataFrame, seeds: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each seed: (seed, neighbor,
    score, rk), every corpus vector a candidate (``_scan_topk``).

    ``embeddings``: (vec_id, embedding array<float>); ``seeds``: subset
    with the same schema.
    """
    return _scan_topk(embeddings, seeds, k, "neighbor")


def ivf_assign(
    embeddings: DataFrame, n_cells: int = 16, dims: int = 64
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic centroids (every (n/K)-th
    vector by id — a seeded sample stand-in for k-means; swap in real
    k-means offline without changing the flow), each vector assigned to
    its nearest centroid by exact quantized cosine.

    Returns (centroids(cell_id, cv, cn), assignments(vec_id, cell_id)).
    The centroid side is K rows → broadcast; assignment is one pass over
    the corpus. At 100 TB, cells partition the corpus so probes touch
    1/K of the data per searched cell.

    Centroid selection is a deterministic hash-sample: the K vectors
    with the smallest ``xxhash64(vec_id)`` — ``orderBy(hash).limit(K)``
    compiles to TakeOrderedAndProject (per-partition top-K, no global
    sort, no count() action), so selection is one narrow pass at any
    corpus size. The K-row window that numbers cells runs on K rows
    only.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    sel = (
        embeddings.select(
            "vec_id",
            quantize(F.col("embedding")).alias("ccv"),
            F.xxhash64("vec_id").alias("hs"),
        )
        .orderBy("hs", "vec_id")
        .limit(n_cells)
    )
    w_cell = Window.orderBy("hs", "vec_id")  # K rows post-limit — tiny
    centroids = (
        sel.withColumn("cell_id", (F.row_number().over(w_cell) - 1).cast("int"))
        .select("cell_id", "ccv")
        .withColumn("ccn", _dot(F.col("ccv"), F.col("ccv")))
    )
    return centroids, _assign_to_centroids(_quantized(embeddings), centroids)


def _assign_to_centroids(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell_id): nearest centroid by quantized cosine — one
    broadcast join + per-vector argmin window (partitioned by vec_id).

    Zero-norm defense in depth: entry guards (``drop_unsearchable``)
    keep zero vectors out of every caller's corpus, but a degenerate
    Lloyd mean could still yield a zero-norm CENTROID — filter both
    sides here so the ANSI division can never see a zero divisor."""
    vecs = vecs.filter(F.col("qn") > 0)
    centroids = centroids.filter(F.col("ccn") > 0)
    scored = vecs.join(F.broadcast(centroids)).select(
        "vec_id", "cell_id", _cell_cosine().alias("cscore")
    )
    return _topk(scored, 1, key="vec_id", item="cell_id", score="cscore").select(
        "vec_id", "cell_id"
    )


def ivf_train_kmeans(
    embeddings: DataFrame, n_cells: int = 16, iters: int = 2, dims: int = 64
) -> DataFrame:
    """Lloyd refinement of the hash-sampled IVF centroids, as pure
    DataFrame ops (the offline training job a real IVF index runs):

    per iteration — assign every vector to its nearest centroid
    (broadcast join), then recompute each centroid as the per-dimension
    mean of its members (posexplode to (cell, dim, x), one partial-agg
    shuffle, re-assembled with sort_array-of-structs so the array order
    is by dimension). Empty cells keep their previous centroid. Cost:
    one n×dims-row shuffle per iteration — offline-train territory,
    never on the query path.

    Returns centroids(cell_id, ccv array<double>, ccn) compatible with
    ``ivf_ann_topk``'s probe flow.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    centroids, _ = ivf_assign(embeddings, n_cells, dims)
    vecs = _quantized(embeddings).persist()

    def lloyd(centroids: DataFrame, _: int) -> DataFrame:
        member = _assign_to_centroids(vecs, centroids).join(vecs, "vec_id")
        means = (
            member.select("cell_id", F.posexplode("qv").alias("d", "x"))
            .groupBy("cell_id", "d")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "m"))),
                    lambda s: s["m"],
                ).alias("new_ccv")
            )
        )
        return (
            centroids.join(means, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("new_ccv"), F.col("ccv")).alias("ccv"),
            )
            .withColumn("ccn", _dot_d(F.col("ccv"), F.col("ccv")))
        )

    centroids = centroids.select(
        "cell_id", F.col("ccv").cast("array<double>").alias("ccv"), "ccn"
    )
    centroids = supersteps(centroids, lloyd, rounds=iters)
    vecs.unpersist()
    return centroids


def ivf_fixed_centroids(
    embeddings: DataFrame, n_cells: int, dims: int = 64
) -> DataFrame:
    """PORTABLE centroid selection: the first ``n_cells`` vectors by id,
    cell_id = vec_id. Hash-sampling (``ivf_assign``) is the production
    default, but xxhash64 has no DuckDB twin — this variant makes the
    whole IVF pipeline (assign → probe → verify) SQL-expressible so the
    oracle can replay it end-to-end."""
    return (
        drop_unsearchable(embeddings, dims=dims).filter(F.col("vec_id") < n_cells)
        .select(
            F.col("vec_id").cast("int").alias("cell_id"),
            quantize(F.col("embedding")).alias("ccv"),
        )
        .withColumn("ccn", _dot(F.col("ccv"), F.col("ccv")))
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    centroids: DataFrame | None = None,
    dims: int = 64,
) -> DataFrame:
    """IVF probe: score each seed only against vectors in its ``n_probe``
    closest cells. Same output contract as the brute-force/LSH variants;
    recall grows with n_probe (n_probe = n_cells degenerates to exact).
    ``kmeans_iters > 0`` refines the hash-sampled centroids with Lloyd
    iterations first (``ivf_train_kmeans``) — tighter cells, better
    recall at the same n_probe. An explicit ``centroids`` DataFrame
    (cell_id, ccv, ccn) overrides selection entirely (e.g. the portable
    ``ivf_fixed_centroids``, or offline-trained centroids).
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    if centroids is None and kmeans_iters > 0:
        centroids = ivf_train_kmeans(embeddings, n_cells, kmeans_iters, dims)
    if centroids is None:
        centroids, assignments = ivf_assign(embeddings, n_cells, dims)
    else:
        assignments = _assign_to_centroids(_quantized(embeddings), centroids)
    cand = (
        _probe(seeds, centroids, n_probe)
        .join(assignments, "cell_id")
        .filter(F.col("vec_id") != F.col("seed"))
        .select("seed", F.col("vec_id").alias("neighbor"))
        .distinct()
    )
    return _rerank(cand, seeds, embeddings, k)


def _plane_signs(plane: int, dims: int, seed: int) -> list[int]:
    """±1 pattern of one hyperplane, derived from a seeded md5 — a pure
    constant per (seed, plane, d), so it is computed ONCE on the driver
    and shipped as a literal array instead of re-hashing per row
    (the previous per-row xxhash64 cost 4096 hash evals per vector)."""
    import hashlib

    return [
        1
        if int(hashlib.md5(f"{seed}:{plane}:{d}".encode()).hexdigest(), 16) % 2 == 0
        else -1
        for d in range(dims)
    ]


def lsh_buckets(
    embeddings: DataFrame,
    planes_per_band: int = 4,
    bands: int = 16,
    dims: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(vec_id, band, bucket): random-hyperplane signature split into
    bands; similar vectors collide in ≥1 band with high probability.

    The signature is one Arrow-batched matmul (corpus batch × planes
    matrix, BLAS-backed) — the bands*planes per-row sign computations
    as built-in higher-order functions do NOT whole-stage-codegen and
    interpret ~dims ops per plane per row, which measured ~30× slower
    than the vectorized path at 64 planes × 64 dims. The planes matrix
    is a seeded constant shipped with the UDF; quantization matches the
    engine-wide contract (round(x·1000), exact in float64)."""
    from pyspark.sql.functions import pandas_udf

    embeddings = drop_invalid_embeddings(embeddings, dims=dims)

    n_planes = bands * planes_per_band
    S = np.array(
        [_plane_signs(p, dims, seed) for p in range(n_planes)], dtype="float64"
    )  # (planes, dims)
    weights = (1 << np.arange(planes_per_band)).astype("int64")

    @pandas_udf("array<int>")
    def _buckets(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype("float64")  # (n, dims)
        # round-half-away-from-zero, matching Spark round() (HALF_UP)
        Q = np.sign(X) * np.floor(np.abs(X) * QUANT + 0.5)
        signs = (Q @ S.T) >= 0  # (n, planes)
        per_band = signs.reshape(len(X), bands, planes_per_band)
        buckets = (per_band * weights).sum(axis=2).astype("int32")  # (n, bands)
        return pd.Series(list(buckets))

    # asNondeterministic (r12, guide §4.4): posexplode's inferred
    # `size(bks) > 0 AND isnotnull(bks)` filter was pushed BELOW the
    # projection, duplicating the ArrowEvalPython node — every corpus
    # vector crossed the Python boundary and paid the signature matmul
    # TWICE per bucket derivation (two ArrowEvalPython nodes in the
    # old plan). The UDF is in
    # fact deterministic; the marker only forbids the optimizer from
    # cloning it. The filter is redundant anyway: _buckets always
    # returns exactly `bands` entries.
    _buckets_once = _buckets.asNondeterministic()

    return (
        embeddings.select("vec_id", _buckets_once(F.col("embedding")).alias("bks"))
        .select("vec_id", F.posexplode("bks").alias("band", "bucket"))
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    planes_per_band: int = 4,
    bands: int = 16,
    dims: int = 64,
    seed: int = 42,
    max_bucket_size: int | None = MAX_BUCKET_DEFAULT,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket.

    At scale this is a shuffle join on (band, bucket) — candidate count
    scales with collision rate, not corpus². Output schema matches the
    brute-force operator (recall measured against it in tests).

    CONTRACT: ``seeds`` must be planner-sized (same bound as the
    codebook collects — thousands of rows, not a second corpus): its id
    set is force-broadcast into the bucket join and its quantized
    vectors broadcast into the scoring join, so a corpus-sized seed
    frame would OOM the driver instead of degrading to a shuffle. Every
    caller in this engine passes a LIMIT-bounded seed set.

    ``max_bucket_size`` drops oversized (band, bucket) groups before the
    candidate join (same guard as ``embedding_near_dup_lsh``): a hot
    bucket contributes |seeds_in_bucket| x |bucket| candidate rows, and
    a bucket that large carries almost no locality signal anyway — a
    seed in a dropped bucket still gets candidates from its other
    ``bands - 1`` bands.
    """
    from .dedup import drop_oversized_buckets

    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    # cut (r12): ``buckets`` feeds BOTH sides of the candidate join;
    # left lazy, the whole signature subtree (corpus scan →
    # ArrowEvalPython matmul → posexplode → window cap) was planned
    # twice — two full Arrow passes over the corpus per query. One eager
    # materialization runs the signature exactly once; the stored rows
    # are 16 B × bands per vector, far smaller than the embeddings they
    # index, so this is the cheaper side at any scale.
    buckets, _ = cut(
        drop_oversized_buckets(
            lsh_buckets(embeddings, planes_per_band, bands, dims, seed),
            max_bucket_size,
        )
    )
    # seed ids are planner-sized by contract (same as the codebook
    # collects) — broadcast them instead of shuffling the bucket table
    seed_buckets = buckets.join(
        F.broadcast(seeds.select(F.col("vec_id"))), "vec_id"
    ).withColumnRenamed("vec_id", "seed")
    cand = (
        seed_buckets.join(buckets, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("seed"))
        .select("seed", F.col("vec_id").alias("neighbor"))
        .distinct()
    )
    return _rerank(cand, seeds, embeddings, k)


def embedding_near_dup(
    embeddings: DataFrame, threshold: float = 0.9, dims: int = 64
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (a, b, score) with
    a < b and cosine ≥ threshold.

    The last rung of the dedup ladder (exact → MinHash-LSH → SimHash →
    n-gram Jaccard → embedding cosine). Brute-force all-pairs — the
    correctness baseline; at corpus scale use
    ``embedding_near_dup_lsh`` (bucketed candidates, identical verify).
    Quantized integer dot products keep scores order-independent and
    engine-exact.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    q = _quantized(embeddings, "a", "qa", "na")
    c = _quantized(embeddings, "b", "qb", "nb")
    return _pair_scores(q.join(c, F.col("a") < F.col("b")), threshold)


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    planes_per_band: int = 4,
    bands: int = 16,
    dims: int = 64,
    seed: int = 42,
    max_bucket_size: int | None = MAX_BUCKET_DEFAULT,
) -> DataFrame:
    """Embedding near-dup at scale: LSH-bucket candidate generation, then
    the same exact-cosine verify as ``embedding_near_dup``.

    The pair join runs on (band, bucket) — candidate volume scales with
    collision rate, not corpus². Same output schema as the brute-force
    operator; recall is asserted against it in tests.

    ``max_bucket_size`` (see ``dedup.drop_oversized_buckets``) drops a
    (band, bucket) whose membership exceeds the cap before the pair
    join — the quadratic-hot-spot guard. Random-hyperplane buckets
    number 2^planes_per_band per band REGARDLESS of corpus size, so at
    some corpus scale every bucket crosses any cap: a growing dropped-
    bucket report (``dedup.oversized_bucket_report``) means the config
    needs more planes per band (more, smaller buckets), not a bigger
    cap.
    """
    from .dedup import drop_oversized_buckets

    embeddings = drop_unsearchable(embeddings, dims=dims)
    # One signature pass, cut (r12) — same receipt as ``lsh_ann_topk``:
    # the lazy ``buckets`` fed both sides of the pair self-join,
    # planning the corpus ArrowEvalPython subtree twice.
    buckets, _ = cut(
        drop_oversized_buckets(
            lsh_buckets(embeddings, planes_per_band, bands, dims, seed),
            max_bucket_size,
        )
    )
    cand = (
        buckets.join(
            buckets.withColumnRenamed("vec_id", "other"), ["band", "bucket"]
        )
        .filter(F.col("vec_id") < F.col("other"))
        .select(F.col("vec_id").alias("a"), F.col("other").alias("b"))
        .distinct()
    )
    # Quantization stays on the per-vector sides, BEFORE the pair join
    # (measured r12: moving it after the join looked like "compute only
    # for candidates" but candidate pairs outnumber corpus vectors
    # ~100:1 here — per-pair HOF evaluation regressed this query 6.9 s
    # → 59.9 s at sf0.1 before being reverted). Per-vector quantize+norm
    # amortizes across every pair the vector participates in.
    q = _quantized(embeddings, "a", "qa", "na")
    c = _quantized(embeddings, "b", "qb", "nb")
    return _pair_scores(cand.join(q, "a").join(c, "b"), threshold)


# --- Product quantization (IVF-PQ's compression half) -------------------


def _subvectors(embeddings: DataFrame, m: int, dims: int) -> DataFrame:
    """(vec_id, sub_id, sv): the quantized vector split into m
    contiguous subspaces of dims/m components each."""
    d = dims // m
    qv = quantize(F.col("embedding"))
    return embeddings.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.slice(qv, i * d + 1, d),
            )
        ).alias("sub_id", "sv"),
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    codes_k: int = 16,
    dims: int = 64,
    iters: int = 1,
) -> DataFrame:
    """Product-quantization codebooks: per subspace, ``codes_k``
    centroids — hash-sampled init (``orderBy(md5).limit`` →
    TakeOrderedAndProject, the same no-global-sort trick as IVF) plus
    ``iters`` Lloyd rounds, all subspaces trained in ONE DataFrame per
    round (subspace is just a key column — m parallel k-means for the
    price of one plan).

    Returns codebook(sub_id, code, cv array<long>, cnorm). Offline-train
    territory: the per-round shuffle is n·m rows, never on the query
    path.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    sampled = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(codes_k)
        .select("vec_id")
        .withColumn(
            "code",
            F.row_number().over(Window.orderBy("vec_id")).cast("int") - 1,
        )
    )
    sub = _subvectors(embeddings, m, dims)
    codebook = (
        sub.join(F.broadcast(sampled), "vec_id")
        .select("sub_id", "code", F.col("sv").cast("array<double>").alias("cv"))
    )

    def lloyd(codebook: DataFrame, _: int) -> DataFrame:
        means = (
            _pq_assign(sub, codebook)
            .join(sub, ["vec_id", "sub_id"])
            .select("sub_id", "code", F.posexplode("sv").alias("d", "x"))
            .groupBy("sub_id", "code", "d")
            .agg(F.avg("x").alias("mx"))
            .groupBy("sub_id", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"],
                ).alias("new_cv")
            )
        )
        return codebook.join(means, ["sub_id", "code"], "left").select(
            "sub_id", "code", F.coalesce(F.col("new_cv"), F.col("cv")).alias("cv")
        )

    codebook = supersteps(codebook, lloyd, rounds=iters)
    return codebook.withColumn("cnorm", _dot_d(F.col("cv"), F.col("cv")))


def _pq_assign(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vec_id, sub_id): broadcast the tiny
    codebook, L2 via zip_with, argmin window keyed on the vector —
    deterministic tie-break on code."""
    dist = F.aggregate(
        F.zip_with(
            F.col("sv").cast("array<double>"),
            F.col("cv"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = sub.join(F.broadcast(codebook.select("sub_id", "code", "cv")), "sub_id")
    w = Window.partitionBy("vec_id", "sub_id").orderBy("dist", "code")
    return (
        scored.withColumn("dist", dist)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub_id", "code")
    )


def pq_encode(
    embeddings: DataFrame, codebook: DataFrame, m: int = 8, dims: int = 64
) -> DataFrame:
    """Encode every vector as m small codes (vec_id, codes array<int>) —
    the 8-byte-per-vector form a 100 TB corpus actually keeps in memory."""
    sub = _subvectors(drop_unsearchable(embeddings, dims=dims), m, dims)
    return (
        _pq_assign(sub, codebook)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def _codebook_matrices(
    codebook: DataFrame, m: int, codes_k: int, d: int
) -> tuple[np.ndarray, np.ndarray]:
    """The collected codebook (m·codes_k rows — planner-sized) as numpy
    matrices: CB[j, c] = entry c of subspace j, CN[j, c] = its squared
    norm."""
    CB = np.zeros((m, codes_k, d))
    CN = np.zeros((m, codes_k))
    for r in codebook.collect():
        CB[r["sub_id"], r["code"]] = r["cv"]
        CN[r["sub_id"], r["code"]] = r["cnorm"]
    return CB, CN


def _adc_top(
    lut: np.ndarray, qn: float, recon: np.ndarray, codes_arr: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Asymmetric-distance scan of one seed over a batch of PQ codes:
    approximate cosine = Σ_j lut[j, code_j] / sqrt(qn · reconstructed
    norm); returns the indices and scores of the best n + 1 rows (one
    spare for the seed itself)."""
    approx = lut[np.arange(lut.shape[0])[None, :], codes_arr].sum(axis=1)
    score = approx / np.sqrt(qn * np.maximum(recon, 1e-9))
    top = np.argsort(-score)[: n + 1]
    return top, score[top]


def pq_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    m: int = 8,
    codes_k: int = 16,
    dims: int = 64,
    refine: int = 4,
    iters: int = 1,
) -> DataFrame:
    """PQ asymmetric-distance ANN: scan the CODES (m bytes/vector), not
    the vectors — per partition, one numpy LUT gather per seed
    (LUT[s,j,c] = <seed_sub_j, codebook_jc>, computed once from the
    tiny codebook), emit the per-partition top refine·k candidates,
    then exact re-rank of the surviving candidates only.

    Scale design: the full-vector table is touched exactly twice — once
    offline (train/encode) and once for the ≤ seeds·refine·k candidate
    re-rank (an id equi-join). The scan stage reads 8 bytes/vector and
    does SIMD table lookups (numpy fancy-indexing inside Arrow
    batches). Collecting the codebook/seeds to the driver is a planner
    step on m·codes_k + |seeds| rows (same convention as
    ``sink.write_dataset``), never data-sized.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    codebook = pq_train(embeddings, m=m, codes_k=codes_k, dims=dims, iters=iters)
    codes = pq_encode(embeddings, codebook, m=m, dims=dims)
    d = dims // m
    CB, CN = _codebook_matrices(codebook, m, codes_k, d)
    seed_rows = (
        seeds.select("vec_id", quantize(F.col("embedding")).alias("qv")).collect()
    )
    S = np.array([r["qv"] for r in seed_rows], dtype=np.float64)
    seed_ids = np.array([r["vec_id"] for r in seed_rows])
    # LUT[s, j, c] = <seed_s sub_j, CB[j, c]>
    LUT = np.einsum("sjd,jcd->sjc", S.reshape(len(S), m, d), CB)
    seed_norm = (S * S).sum(axis=1)
    n_keep = refine * k

    def scan(batches):
        for pdf in batches:
            codes_arr = np.stack(pdf["codes"].to_numpy())  # (B, m)
            recon = CN[np.arange(m)[None, :], codes_arr].sum(axis=1)  # (B,)
            out = []
            for si in range(len(S)):
                top, score = _adc_top(LUT[si], seed_norm[si], recon, codes_arr, n_keep)
                out.append(
                    pd.DataFrame(
                        {
                            "seed": seed_ids[si],
                            "neighbor": pdf["vec_id"].to_numpy()[top],
                            "approx": score,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    cand = (
        codes.mapInPandas(scan, "seed long, neighbor long, approx double")
        .filter(F.col("seed") != F.col("neighbor"))
    )
    cand = _topk(cand, n_keep, score="approx").select("seed", "neighbor")
    # exact re-rank of candidates only (asymmetric refinement)
    return _rerank(cand, seeds, embeddings, k)


def ivf_pq_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    codes_k: int = 16,
    dims: int = 64,
    refine: int = 4,
    iters: int = 1,
) -> DataFrame:
    """IVF-PQ: the full production ANN stack — IVF routing picks each
    seed's ``n_probe`` cells (touches 1/K of the corpus per probed
    cell), then the PQ asymmetric-distance scan scores ONLY the codes
    of vectors in those cells (8 bytes/vector), and the survivors are
    exactly re-ranked. Composition of ``ivf_assign`` (routing) and the
    ``pq_train``/``pq_encode`` codebooks; both trained offline, one
    plan at query time.

    At 100 TB: codes live partitioned BY CELL, so a probe reads
    n_probe/K of an 8-byte-per-vector table — the memory/IO math that
    makes billion-scale ANN feasible (residual encoding is the standard
    production refinement on top of this flow).
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    centroids, assignments = ivf_assign(embeddings, n_cells, dims)
    codebook = pq_train(embeddings, m=m, codes_k=codes_k, dims=dims, iters=iters)
    codes = pq_encode(embeddings, codebook, m=m, dims=dims).join(
        assignments, "vec_id"
    )
    probes = _probe(seeds, centroids, n_probe)
    d = dims // m
    CB, CN = _codebook_matrices(codebook, m, codes_k, d)
    LUTS = {}
    NORMS = {}
    for r in _quantized(seeds, "seed").collect():
        sv = np.array(r["qv"], dtype=np.float64)
        LUTS[r["seed"]] = np.einsum("jd,jcd->jc", sv.reshape(m, d), CB)
        NORMS[r["seed"]] = float(r["qn"])
    n_keep = refine * k

    def scan(key, pdf):
        seed = key[0]
        codes_arr = np.stack(pdf["codes"].to_numpy())
        recon = CN[np.arange(m)[None, :], codes_arr].sum(axis=1)
        top, _ = _adc_top(LUTS[seed], NORMS[seed], recon, codes_arr, n_keep)
        return pd.DataFrame(
            {"seed": seed, "neighbor": pdf["vec_id"].to_numpy()[top]}
        )

    scan_input = probes.join(codes, "cell_id").select("seed", "vec_id", "codes")
    cand = (
        scan_input.groupBy("seed")
        .applyInPandas(scan, "seed long, neighbor long")
        .filter(F.col("seed") != F.col("neighbor"))
    )
    return _rerank(cand, seeds, embeddings, k)


def label_centroids(embeddings: DataFrame, label_col: str = "label") -> DataFrame:
    """Class prototypes: the per-label element-wise mean embedding (the
    few-shot / nearest-class-mean retrieval primitive, and the seed for
    cluster-balanced curation).

    Exactness contract: vectors are quantized to integers, summed per
    (label, dim) — map-side-combinable, one shuffle of label×dims rows —
    and ONLY the final mean divides (integer sum / count → one exact
    division per dim), so the result is engine-portable. Returns
    (label, n_members, centroid array<double> ordered by dim).
    """
    embeddings = drop_nonfinite_embeddings(embeddings)
    per_dim = embeddings.select(
        label_col, F.posexplode(quantize(F.col("embedding"))).alias("d", "q")
    )
    counts = embeddings.groupBy(label_col).agg(F.count("*").alias("n_members"))
    return (
        per_dim.groupBy(label_col, "d")
        .agg(F.sum("q").alias("s"))
        .join(counts, label_col)
        .withColumn("m", F.col("s").cast("double") / F.col("n_members").cast("double"))
        .groupBy(label_col, "n_members")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))), lambda x: x["m"]
            ).alias("centroid")
        )
    )


def centroid_similarity_matrix(
    embeddings: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Pairwise cosine similarity between class centroids, engine-exact.

    The quantize scale and member counts cancel out of the cosine:
    with S_l[d] = Σ members' quantized dim-d values (exact BIGINT),
    cos(l_a, l_b) = I_ab / (√I_aa · √I_bb) where I_xy = Σ_d S_x[d]·S_y[d]
    is an exact integer inner product — the only float ops are two
    IEEE-exact sqrts, one multiply, one divide. Returns
    (label_a ≤ label_b, ip_num, cos); the diagonal is exactly 1.0.

    Scale: one label×dims shuffle for the sums (map-side combinable),
    then the pairwise join runs on the labels×dims matrix — tiny next
    to the data; the inter-class confusion structure used for
    cluster-balanced curation and label-noise auditing.
    """
    per_dim = drop_nonfinite_embeddings(embeddings).select(
        label_col, F.posexplode(quantize(F.col("embedding"))).alias("d", "q")
    )
    sums = per_dim.groupBy(label_col, "d").agg(F.sum("q").alias("s"))
    a = sums.select(
        F.col(label_col).alias("label_a"), F.col("d"), F.col("s").alias("sa")
    )
    b = sums.select(
        F.col(label_col).alias("label_b"), F.col("d"), F.col("s").alias("sb")
    )
    ip = (
        a.join(b, "d")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("ip_num"))
    )
    diag = ip.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_a").alias("_l"), F.col("ip_num").alias("nrm")
    )
    return (
        ip.join(F.broadcast(diag), F.col("label_a") == F.col("_l"))
        .drop("_l")
        .withColumnRenamed("nrm", "nrm_a")
        .join(F.broadcast(diag), F.col("label_b") == F.col("_l"))
        .drop("_l")
        .select(
            "label_a",
            "label_b",
            "ip_num",
            (
                F.col("ip_num").cast("double")
                / (
                    F.sqrt(F.col("nrm_a").cast("double"))
                    * F.sqrt(F.col("nrm").cast("double"))
                )
            ).alias("cos"),
        )
    )


def hard_negatives(
    embeddings: DataFrame, seeds: DataFrame, k: int = 5
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    seed, the top-k most-similar corpus vectors with a DIFFERENT label
    — the negatives that actually move a loss: (seed, negative, score,
    rk), scored as in :func:`cosine_topk_bruteforce` with a label mask
    per seed (``_scan_topk``).

    ``embeddings``/``seeds``: (vec_id, embedding array<float>,
    label int). At 100 TB the brute-force scan swaps for the LSH/IVF
    candidate paths with the identical mask-and-rank tail.
    """
    return _scan_topk(embeddings, seeds, k, "negative", label="label")


def _semdedup_scored_pairs(
    embeddings: DataFrame, n_cells: int, threshold: float, dims: int = 64
) -> DataFrame:
    """Shared SemDeDup candidate stage: portable fixed centroids →
    exact quantized-cosine assignment → cell-keyed pair equi-join
    (a < b) scored by quantized cosine, filtered to >= threshold.
    Returns (cell_id, a, b, score). Candidate pairs are bounded per
    cell — the IVF bucketed-candidates contract; no all-pairs."""
    embeddings = drop_unsearchable(embeddings, dims=dims)
    vecs = _quantized(embeddings)
    m = vecs.join(
        _assign_to_centroids(vecs, ivf_fixed_centroids(embeddings, n_cells, dims)),
        "vec_id",
    )
    a = m.select(
        "cell_id",
        F.col("vec_id").alias("a"),
        F.col("qv").alias("qa"),
        F.col("qn").alias("na"),
    )
    b = m.select(
        F.col("cell_id").alias("cell_b"),
        F.col("vec_id").alias("b"),
        F.col("qv").alias("qb"),
        F.col("qn").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("cell_id") == F.col("cell_b")) & (F.col("a") < F.col("b"))
    )
    return _pair_scores(pairs, threshold, "cell_id")


def semdedup(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.4,
    dims: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication — cluster the embedding space coarsely, then drop
    near-identical vectors WITHIN each cluster only, keeping one
    representative per near-dup set. The cluster gate is what makes
    semantic dedup tractable at corpus scale: candidate pairs are
    bounded per cell instead of corpus², exactly the IVF/LSH
    bucketed-candidates contract the rest of the dedup ladder follows.

    This rendering reuses the engine's PORTABLE IVF pieces so the whole
    pipeline is SQL-expressible and oracle-checkable end-to-end:
    centroids = ``ivf_fixed_centroids`` (first n_cells vectors by id;
    swap in offline k-means without changing the flow), assignment =
    exact quantized-cosine argmin (broadcast join + per-vector window),
    intra-cell scoring = the same quantized-int dot/sqrt form as
    ``embedding_near_dup``. Drop rule (ONE-PASS, deterministic): a
    vector is DROPPED iff ANY lower-id vector in its cell scores >=
    threshold against it — including lower-id vectors that are
    themselves dropped — and ``kept`` is the NEAREST LOWER-ID NEAR-DUP
    (smallest such id), not necessarily a surviving representative.
    In a chain (0~1 and 1~2 above threshold, 0~2 below) this drops
    BOTH 1 and 2, where the paper's sequential greedy keeps 2: the
    one-pass rule over-drops relative to SemDeDup's sequential scan
    (conservative for dedup — more removed, never a duplicate kept).
    For the paper-exact semantics use ``semdedup_greedy``, which
    resolves chains to the true kept-representative fixpoint.

    Scale: one broadcast-assign pass over the corpus; the pair join is
    cell-keyed equi-join (per-cell candidates only — with k chosen
    ~ N/cluster_budget the per-cell pair count is bounded); the drop
    window partitions by the dropped vector. No all-pairs, no Python.

    Returns (cell_id, kept, dropped, score) — one row per dropped
    vector, ordered by ``dropped`` upstream of the caller's sort.
    """
    scored = _semdedup_scored_pairs(embeddings, n_cells, threshold, dims)
    wdrop = Window.partitionBy("b").orderBy("a")
    return (
        scored.withColumn("rk", F.row_number().over(wdrop))
        .filter(F.col("rk") == 1)
        .select(
            "cell_id",
            F.col("a").alias("kept"),
            F.col("b").alias("dropped"),
            "score",
        )
    )


def semdedup_greedy(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.4,
    dims: int = 64,
) -> DataFrame:
    """SemDeDup with the PAPER-EXACT sequential-greedy drop rule
    (Abbas et al. 2023 §3): scan each cluster's vectors in ascending
    id order; a vector is DROPPED iff some SURVIVING (kept) lower-id
    cell-mate scores >= threshold against it. Resolves the chain case
    the one-pass ``semdedup`` over-drops (0~1 and 1~2 above threshold,
    0~2 below: greedy keeps {0, 2}, one-pass keeps only {0}) and makes
    ``kept`` a TRUE surviving representative — the smallest kept
    dropper, so every output row's ``kept`` id is itself retained.

    Plan: the shared cell-gated candidate stage
    (``_semdedup_scored_pairs`` — broadcast assign, cell-keyed pair
    equi-join, quantized-cosine scores, all JVM-side) feeds ONE
    ``applyInPandas`` over cell_id that replays the paper's sequential
    scan per cell. The Python step sees only the >=threshold EDGE list
    of one cell — bounded by the cluster gate (cells sized ~
    N/cluster_budget), never the corpus — and does O(edges) set
    arithmetic; scores pass through unchanged, so the single IEEE
    divide/sqrt computed JVM-side stays bit-identical to the oracle's.
    The greedy recursion is inherently sequential WITHIN a cell (each
    decision depends on all earlier ones — no window/join form exists),
    but cells are independent: parallelism = n_cells, the same
    partition contract as the paper's per-cluster scan.

    Returns (cell_id, kept, dropped, score) — one row per dropped
    vector; score = the kept-representative pair's cosine.
    """
    scored = _semdedup_scored_pairs(embeddings, n_cells, threshold, dims)

    def _cell_greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        in_edges: dict[int, list[tuple[int, float]]] = {}
        verts: set[int] = set()
        for a_, b_, s_ in zip(pdf["a"], pdf["b"], pdf["score"]):
            in_edges.setdefault(int(b_), []).append((int(a_), float(s_)))
            verts.add(int(a_))
            verts.add(int(b_))
        kept: set[int] = set()
        cell = int(pdf["cell_id"].iloc[0])
        out_cell, out_kept, out_drop, out_score = [], [], [], []
        for v in sorted(verts):
            droppers = sorted(
                (a_, s_) for a_, s_ in in_edges.get(v, []) if a_ in kept
            )
            if droppers:
                out_cell.append(cell)
                out_kept.append(droppers[0][0])
                out_drop.append(v)
                out_score.append(droppers[0][1])
            else:
                kept.add(v)
        return pd.DataFrame(
            {
                "cell_id": pd.array(out_cell, dtype="int32"),
                "kept": pd.array(out_kept, dtype="int64"),
                "dropped": pd.array(out_drop, dtype="int64"),
                "score": pd.array(out_score, dtype="float64"),
            }
        )

    return scored.groupBy("cell_id").applyInPandas(
        _cell_greedy, "cell_id int, kept long, dropped long, score double"
    )


def _pq_fixed_codes(
    embeddings: DataFrame, seeds: DataFrame, m: int, codes_k: int, dims: int
) -> tuple[DataFrame, DataFrame]:
    """The fixed-codebook PQ step, all exact BIGINT arithmetic: the
    codebook is the subvectors of the first ``codes_k`` vectors by id;
    integer L2 is ldist = <v,v> − 2<v,c> + <c,c>.

    Returns (codes(vec_id, sub_id, code) — each corpus subvector's
    nearest entry, ties to the lower code; lut(seed, sub_id, code,
    ldist) — every seed subvector's distance to every entry,
    |seeds|·m·codes_k rows, planner-sized)."""
    cb = _subvectors(
        embeddings.filter(F.col("vec_id") < codes_k), m, dims
    ).select(
        "sub_id",
        F.col("vec_id").cast("int").alias("code"),
        F.col("sv").alias("cv"),
    )
    ldist = (
        _dot(F.col("sv"), F.col("sv"))
        - 2 * _dot(F.col("sv"), F.col("cv"))
        + _dot(F.col("cv"), F.col("cv"))
    )
    w_enc = Window.partitionBy("vec_id", "sub_id").orderBy("ldist", "code")
    codes = (
        _subvectors(embeddings, m, dims)
        .join(F.broadcast(cb), "sub_id")
        .withColumn("ldist", ldist)
        .withColumn("rk", F.row_number().over(w_enc))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub_id", "code")
    )
    lut = (
        _subvectors(seeds, m, dims)
        .join(F.broadcast(cb), "sub_id")
        .select(F.col("vec_id").alias("seed"), "sub_id", "code", ldist.alias("ldist"))
    )
    return codes, lut


def _adc_candidates(scan: DataFrame, n_keep: int) -> DataFrame:
    """(seed, neighbor): from (seed, vec_id, ldist) rows of a code ⋈ LUT
    join, ADC(seed, vec) = Σ_sub ldist, and each seed's ``n_keep``
    nearest vectors by (adc, id)."""
    adc = (
        scan.filter(F.col("vec_id") != F.col("seed"))
        .groupBy("seed", F.col("vec_id").alias("neighbor"))
        .agg(F.sum("ldist").alias("adc"))
    )
    w_cand = Window.partitionBy("seed").orderBy("adc", "neighbor")
    return (
        adc.withColumn("crk", F.row_number().over(w_cand))
        .filter(F.col("crk") <= n_keep)
        .select("seed", "neighbor")
    )


def pq_fixed_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    m: int = 8,
    codes_k: int = 16,
    dims: int = 64,
    refine: int = 4,
) -> DataFrame:
    """PORTABLE product-quantization ANN: FIXED integer codebook (the
    subvectors of the first ``codes_k`` vectors by id) + exact-integer
    L2 assignment, LUT and ADC — every compared quantity is a BIGINT,
    so the ENTIRE PQ pipeline (encode → asymmetric-distance scan →
    exact re-rank) is SQL-expressible and oracle-checkable end-to-end.
    Retires the "PQ is rows-only" caveat at small config, exactly as
    ``ivf_fixed_centroids`` did for IVF and the VALUES-list hyperplanes
    did for LSH; the Lloyd-trained ``pq_ann_topk`` stays the
    production twin (float means → rows-only + recall tests).

    Pipeline: encode each vector's m subspaces to its nearest codebook
    entry by integer L2 (ldist = <v,v> − 2<v,c> + <c,c>, argmin with
    code tiebreak); LUT = the same integer distances for the SEED
    subvectors (|seeds|·m·codes_k rows — broadcast); ADC(seed, vec) =
    Σ_sub LUT[seed, sub, code(vec, sub)] via an (sub, code)-keyed
    broadcast join + per-(seed, vec) sum; take ``refine·k`` candidates
    per seed by (adc, id) and exact-re-rank by quantized cosine.

    Scale: codes are the only corpus-sized table after encode (m small
    ints/vector — the 8-byte form); the scan stage is one broadcast
    join over it; the full-vector table is touched once for encode and
    once for the candidate-only re-rank equi-join. Same memory/IO
    shape as the production LUT scan, rendered relationally.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    enc, lut = _pq_fixed_codes(embeddings, seeds, m, codes_k, dims)
    scan = enc.join(F.broadcast(lut), ["sub_id", "code"])
    return _rerank(_adc_candidates(scan, refine * k), seeds, embeddings, k)


def ivf_pq_fixed_ann_topk(
    embeddings: DataFrame,
    seeds: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 8,
    codes_k: int = 16,
    dims: int = 64,
    refine: int = 4,
) -> DataFrame:
    """PORTABLE IVF-PQ: the full production ANN stack (coarse cell
    routing + product-quantized asymmetric-distance scan + exact
    re-rank) composed entirely from the engine's exact-integer fixed
    pieces — ``ivf_fixed_centroids`` routing and the
    ``pq_fixed_ann_topk`` codebook/LUT/ADC — so the WHOLE stack is
    SQL-expressible and oracle-checkable. Completes the ANN family's
    oracle coverage: brute force, LSH (md5 small config), IVF (fixed),
    PQ (fixed) and now IVF-PQ all have hash-checked twins; the
    Lloyd/xxhash production variants remain the perf path.

    Flow: corpus assigned to cells (broadcast argmin); each seed
    probes its ``n_probe`` nearest cells; PQ codes of vectors in
    probed cells only are ADC-scored against the seed's LUT
    (broadcast (seed, sub, code) join — probes and LUT are
    planner-sized); ``refine·k`` candidates per seed by exact-integer
    ADC; exact quantized-cosine re-rank. At 100 TB the codes table is
    partitioned BY CELL, so a probe reads n_probe/K of it — the
    billion-scale memory/IO shape, here rendered relationally.
    """
    embeddings = drop_unsearchable(embeddings, dims=dims)
    seeds = drop_unsearchable(seeds, dims=dims)
    cent = ivf_fixed_centroids(embeddings, n_cells, dims)
    assign = _assign_to_centroids(_quantized(embeddings), cent)
    probes = _probe(seeds, cent, n_probe)
    enc, lut = _pq_fixed_codes(embeddings, seeds, m, codes_k, dims)
    scan = (
        enc.join(assign, "vec_id")
        .join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(lut), ["seed", "sub_id", "code"])
    )
    return _rerank(_adc_candidates(scan, refine * k), seeds, embeddings, k)


def norm_outliers(embeddings: DataFrame, dims: int = 64) -> DataFrame:
    """Embedding hygiene screen: flag vectors whose QUANTIZED squared
    norm falls outside the Tukey fences [q1 − 1.5·IQR, q3 + 1.5·IQR] —
    the cheap first check of an embedding pipeline (near-zero norms =
    failed encodes; huge norms = degenerate inputs; either poisons
    cosine/IVF training downstream).

    Determinism: norm² is an exact BIGINT; quartiles at p ∈ {.25, .75}
    interpolate on exact binary fractions (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` there — bit-identical); the fences are
    two IEEE ops in a pinned order (q1 − 1.5·(q3 − q1), 1.5 exact).

    Scale: the quartiles here are the EXACT percentile aggregate
    (sort-based — right for the oracle-checked fixture path); at
    corpus scale swap ``approx_percentile`` (fixed-size sketch,
    map-side combinable) or fixed fences from a profiling run — the
    flagging pass itself is a zero-shuffle scan against two broadcast
    scalars either way.

    norm² is computed in an Arrow batch (``_np_quantize`` + int64
    square-sum — exact), NOT as Catalyst quantize/dot lambdas: the
    interpreted-HOF form evaluated ~12.8 M lambda trees at sf10 and
    measured 30.3 s vs DuckDB's 1.4 s; the batch form is one numpy
    expression (BASELINE sec 11 — the ann_cosine lesson applied).

    Returns (vec_id, norm2, lo_fence, hi_fence, is_outlier) — one row
    per NON-NULL vector of the table's dimensionality (a NULL vector
    has no norm to screen — its null_frac belongs to a profiling query,
    not a fence flag; non-finite and ragged rows are dropped by
    ``drop_invalid_embeddings`` — a NaN norm is a crash on both
    engines, not a screen result). Zero vectors stay: norm 0 IS the
    outlier this screen exists to flag.
    """
    embeddings = drop_invalid_embeddings(embeddings, dims=dims)

    def _norm_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = _np_quantize(np.array(pdf["emb"].tolist(), dtype=np.float64))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "norm2": (q * q).sum(axis=1),
                }
            )

    # persist: `n` feeds BOTH the quartile agg and the final
    # projection — without it the corpus scan + quantize batch runs
    # twice (the dominant cost; r8 ADVICE). The cached frame is two
    # int64 columns (16 B/row), MEMORY_AND_DISK spills if it must,
    # and lineage survives executor loss (unlike a local checkpoint).
    n = embeddings.select(
        "vec_id", F.col("embedding").alias("emb")
    ).mapInPandas(_norm_batches, "vec_id long, norm2 long").persist()
    q = n.agg(
        F.percentile("norm2", 0.25).alias("q1"),
        F.percentile("norm2", 0.75).alias("q3"),
    )
    fences = q.select(
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    return n.crossJoin(F.broadcast(fences)).select(
        "vec_id",
        "norm2",
        "lo_fence",
        "hi_fence",
        (
            (F.col("norm2") < F.col("lo_fence"))
            | (F.col("norm2") > F.col("hi_fence"))
        ).alias("is_outlier"),
    )


def sq8_quantization_error(embeddings: DataFrame) -> DataFrame:
    """INT8 scalar quantization (SQ8) with an exact reconstruction-error
    audit — the memory-4x compression step vector stores apply before
    ANN serving (Faiss ScalarQuantizer QT_8bit; the corpus-curation
    question it answers: is 8-bit per dimension enough for THIS
    embedding distribution, per vector, before committing the fleet's
    RAM budget). Sits beside the PQ family as the simpler, per-dim
    codec: PQ quantizes subvectors to learned codebooks, SQ8 quantizes
    each dimension to a 0..255 code on a per-dim min/max ramp.

    Exactness contract: embeddings go through the standard integer
    quantization (round(x*1000) BIGINT — functions/vectors.py), so the
    per-dim min/max, the code ((q-mn)*255 div span), the reconstruction
    (mn + code*span div 255) and the per-dim |error| are ALL exact
    integer arithmetic — truncating BIGINT division both directions, no
    IEEE op until the final mean. Returns per vector:
    (vec_id, max_err_q, sum_err_q, n_dims, mean_err_q) where *_q are in
    quantized units (1/1000 of an embedding unit).

    Scale: one explode to (vec_id, d, q); per-dim stats are a
    64-row aggregate broadcast back (map-side combinable); code/
    reconstruct/error are per-row projections; the per-vector rollup is
    one vec-keyed combinable aggregate. No corpus-sized join or window
    at any scale.
    """
    per = drop_nonfinite_embeddings(embeddings).select(
        "vec_id", F.posexplode(quantize(F.col("embedding"))).alias("d", "q")
    )
    stats = per.groupBy("d").agg(F.min("q").alias("mn"), F.max("q").alias("mx"))
    j = per.join(F.broadcast(stats), "d").withColumn(
        "span", F.greatest(F.col("mx") - F.col("mn"), F.lit(1))
    )
    e = (
        j.withColumn("code", F.expr("((q - mn) * 255) div span"))
        .withColumn("deq", F.expr("mn + (code * span) div 255"))
        .withColumn("err", F.abs(F.col("q") - F.col("deq")))
    )
    return e.groupBy("vec_id").agg(
        F.max("err").cast("long").alias("max_err_q"),
        F.sum("err").cast("long").alias("sum_err_q"),
        F.count("*").cast("long").alias("n_dims"),
        (F.sum("err").cast("double") / F.count("*")).alias("mean_err_q"),
    )
