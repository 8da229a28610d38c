"""Text-analysis operators: token stats, quality scoring, language ID.

All hot-path expressions are built-in column functions (whole-stage
codegen); nothing here drops to Python per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tiny per-language stopword anchors for the n-gram/stopword language
# heuristic (deterministic, dependency-free)
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "de"],
}


from ..functions.text import n_tokens as _n_tokens
from .superstep import cut, release


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id",
        F.length(F.col(text_col)).cast("long").alias("n_chars_actual"),
        _n_tokens(F.col(text_col)).alias("n_tokens"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/token-shape quality gate (the cheap first-pass filter a
    100 TB corpus pipeline runs before anything expensive)."""
    t = F.col(text_col)
    n_tok = _n_tokens(t)
    nonspace = F.length(F.regexp_replace(t, " ", "")).cast("double")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        (nonspace / n_tok.cast("double")).alias("avg_token_len"),
        ((F.length(t) >= 100) & (n_tok >= 20)).alias("passes_quality"),
    )


def language_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: per-language hit counts over the
    token set, argmax as predicted language. Deterministic and
    JVM-side; a real deployment swaps in a Pandas-UDF n-gram model with
    identical plumbing.

    Each language's hit count is ONE single-pass ``regexp_count`` with
    lookaround token boundaries — ``(?<!\\S)(?:m1|m2|m3)(?!\\S)``
    counts exactly the tokens equal to a marker (markers are distinct,
    a token matches at most once), identical to the original split +
    per-marker ``list_filter`` form, which paid the interpreted-lambda
    tax on every token x 12 markers (51.5 s vs DuckDB 3.2 s at sf10).
    Case-sensitive, as before (tokens not lowered).
    """
    t = F.trim(F.col(text_col))
    cols = []
    for lang, markers in _LANG_MARKERS.items():
        # markers are interpolated into the pattern: \Q...\E-quote each
        # one so a future marker containing a regex metacharacter
        # (apostrophe-adjacent forms, diacritic escapes) counts
        # literally instead of silently rewriting the alternation
        quoted = "|".join(r"\Q" + m + r"\E" for m in markers)
        hits = F.regexp_count(
            t, F.lit(r"(?<!\S)(?:" + quoted + r")(?!\S)")
        )
        cols.append(
            F.struct(hits.cast("long").alias("hits"), F.lit(lang).alias("lang"))
        )
    best = F.array_max(F.array(*cols))
    return docs.select(
        "doc_id",
        best["lang"].alias("predicted_lang"),
        best["hits"].alias("marker_hits"),
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / punctuation runs —
# the lookahead-free core of GPT-2-style pre-tokenization, portable
# between Java regex (Spark) and RE2-like engines (DuckDB oracle)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sub-word-ish token counts: total tokens, distinct tokens, and the
    letters-only share. regexp_extract_all is a JVM column expression —
    the whole computation stays in whole-stage codegen (the realistic
    'how many tokens is this corpus' pass before paying for a real BPE
    vocab, which would slot in here as a Pandas UDF with this exact
    schema)."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$")))
        .cast("long")
        .alias("n_word_tokens"),
    )


# portable (lookahead-free) scrub patterns; a production pass swaps in
# jurisdiction-specific pattern packs with the same plumbing
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+",
    "long_digits": r"[0-9]{6,}",  # phone / account / card number runs
}


def redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-style scrub: replace every match of each pattern with a typed
    placeholder and count the replacements per class. Pure column
    expressions (one codegen stage, no UDF); the redacted text keeps the
    document's token shape so downstream stats stay meaningful."""
    red = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.select("doc_id", *counts, red.alias("redacted_text"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics per document (the "repetitious
    text" quality filters used to scrub web corpora before training):

    - ``top_word_frac``     max single-word multiplicity / n_tokens
    - ``top_bigram_frac``   2 * max bigram multiplicity / n_tokens
    - ``dup_trigram_frac``  fraction of trigram occurrences that are
                            repeats (1 - distinct/total)

    Scale design: posexplode + two LEAD columns build every 1/2/3-gram
    off ONE per-doc sort, and both downstream aggregates (per-gram
    multiplicities, then the per-doc rollup) group on supersets of
    doc_id, so the window's doc-keyed Exchange satisfies their
    distributions — the whole operator is ONE shuffle, all
    whole-stage-codegen. The original form computed everything in the
    array domain with higher-order functions (transform+slice gram
    build, array_sort + aggregate run-length max-multiplicity); that
    was shuffle-FREE but lambda-interpreted and measured 4.4x the
    DuckDB oracle at sf1 (20.5s; the engine's interpreted-HOF tax —
    see shingles). ``filter_verdicts`` keeps the fused array-domain
    form where single-projection composition is the point.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.select(
        "doc_id",
        "tok",
        F.lead("tok", 1).over(w).alias("t2"),
        F.lead("tok", 2).over(w).alias("t3"),
    )
    grams = seq.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(array("
                " struct(1 AS g, tok AS gram),"
                " struct(2 AS g, IF(t2 IS NULL, NULL,"
                "   concat(tok, ' ', t2)) AS gram),"
                " struct(3 AS g, IF(t3 IS NULL, NULL,"
                "   concat(tok, ' ', t2, ' ', t3)) AS gram)"
                "), x -> x.gram IS NOT NULL)"
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.g").alias("g"), F.col("x.gram").alias("gram"))
    counts = grams.groupBy("doc_id", "g", "gram").agg(
        F.count("*").alias("cnt")
    )
    stats = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("g") == 1, F.col("cnt"))).alias("n_tokens"),
        F.max(F.when(F.col("g") == 1, F.col("cnt"))).alias("max_w"),
        F.coalesce(
            F.max(F.when(F.col("g") == 2, F.col("cnt"))), F.lit(0)
        ).alias("max_b"),
        F.coalesce(
            F.sum(F.when(F.col("g") == 3, F.col("cnt"))), F.lit(0)
        ).alias("n_tri"),
        F.coalesce(
            F.count(F.when(F.col("g") == 3, F.lit(1))).cast("long"),
            F.lit(0),
        ).alias("d_tri"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        (F.col("max_w").cast("double") / F.col("n_tokens").cast("double")).alias(
            "top_word_frac"
        ),
        F.when(
            F.col("max_b") > 0,
            (F.col("max_b") * 2).cast("double") / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            F.col("n_tri") > 0,
            (F.col("n_tri") - F.col("d_tri")).cast("double")
            / F.col("n_tri").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


def normalize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization for dedup/fingerprinting: lowercase,
    strip non-alphanumerics, collapse runs of whitespace, trim. Adds a
    ``norm_text`` column.

    Pure column expressions (regex classes chosen to behave identically
    under Java regex and RE2), so normalization fuses into the scan
    projection — zero extra passes at 100 TB. Normalized-then-hashed
    dedup catches casing/punctuation mutations that byte-exact dedup
    misses, at the same one-shuffle cost.
    """
    n = F.lower(F.col(text_col))
    n = F.regexp_replace(n, r"[^a-z0-9\s]", "")
    n = F.regexp_replace(n, r"\s+", " ")
    return docs.withColumn("norm_text", F.trim(n))


def _grams(tcol, g):
    """n-gram array from a token array, built with transform+slice (all
    JVM-side array kernels)."""
    idx = F.sequence(F.lit(0), F.size(tcol) - g)
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tcol, i + 1, g)))


def _max_mult(arr):
    """Max element multiplicity of an array: sort, then a single
    aggregate() run-length scan — O(n log n) per row, no shuffle."""
    s = F.array_sort(arr)
    zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(s, zero, step, lambda acc: acc["best"])


def filter_verdicts(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_top_bigram: float = 0.17,
    max_dup_trigram: float = 0.1,
    token_len_lo: float = 2.0,
    token_len_hi: float = 12.0,
) -> DataFrame:
    """The composite C4/Gopher-style quality gate: every heuristic
    filter evaluated in ONE fused, shuffle-free projection, emitting a
    per-document verdict — ``keep`` or the first failing rule
    (``too_short`` → ``bad_token_shape`` → ``too_repetitive`` →
    ``dup_trigrams``), so drop attribution is auditable.

    This is the decision step a 100 TB corpus scrub runs after
    normalization and before dedup; because all metrics are array-domain
    expressions over one scan (no joins between the individual metric
    operators), the marginal cost of adding a rule is zero extra passes.
    """
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(t)
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("double")
    avg_len = nonspace / n.cast("double")
    top_bi = F.when(
        n >= 2, (_max_mult(_grams(t, 2)) * 2).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    tri = _grams(t, 3)
    dup_tri = F.when(
        n >= 3,
        (F.size(tri) - F.size(F.array_distinct(tri))).cast("double")
        / F.size(tri).cast("double"),
    ).otherwise(F.lit(0.0))
    verdict = (
        F.when(n < min_tokens, "too_short")
        .when((avg_len < token_len_lo) | (avg_len > token_len_hi), "bad_token_shape")
        .when(top_bi > max_top_bigram, "too_repetitive")
        .when(dup_tri > max_dup_trigram, "dup_trigrams")
        .otherwise("keep")
    )
    return docs.select(
        "doc_id", n.cast("long").alias("n_tokens"), verdict.alias("verdict")
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    token-window chunks of ``window`` tokens advancing by ``stride``
    (overlap = window - stride) — the context-length packing precursor
    every LLM training pipeline runs between cleaning and tokenization.

    Shuffle-free: chunk starts, slices and texts are all array-domain
    higher-order functions fused into the documents scan; the only
    row-expansion is the posexplode of the per-doc chunk list (bounded
    by ceil(n_tokens/stride) per row). Returns (doc_id, chunk_id,
    chunk_text, n_tokens) — chunk_id dense from 0, last chunk may be
    short (standard sliding-window semantics; callers drop tails with a
    filter if their packer requires full windows).
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(tokens)
    n_chunks = F.floor((n - 1).cast("double") / stride).cast("int") + 1
    starts = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.transform(starts, lambda i: F.slice(tokens, i * stride + 1, window))
    # NULL-text contract: no tokens -> no chunks. Without the
    # filter, greatest(NULL - 1, 0) SKIPS the NULL and yields start 0, so
    # every NULL doc emitted one garbage (NULL-token) chunk.
    out = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_tokens")
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.col("chunk_tokens")).alias("chunk_text"),
        F.size("chunk_tokens").cast("long").alias("n_tokens"),
    )


def _merge_pair(sym, a: str, b: str):
    """Greedy left-to-right BPE pair merge over a symbol array, as one
    array-domain fold (no Python per row): append each symbol, replacing
    a trailing ``a`` by ``ab`` when ``b`` arrives."""
    merged = a + b
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    max_batch: int = 16,
):
    """Distributed BPE merge training (Sennrich-style): learn the top
    ``n_merges`` byte-pair merges from a corpus.

    Plan per round: adjacent-pair counts over the (word, count) table —
    one explode + one partial-agg shuffle on the pair key — then ONE
    top-K collect to the driver (the merge decision is a global scalar
    set, planner-sized like the IVF codebook collect); the merges apply
    as array folds fused into one projection (no shuffle), and the new
    word table is ``cut``: a persisted table would keep every round's
    array folds in its logical plan, and by ~30 rounds the nested
    lambdas exhaust the driver heap just rendering the plan. The
    retired round's table is released as soon as its successor is cut.
    The word table carries one row per DISTINCT word
    (frequency-weighted), so round cost scales with vocabulary, not
    corpus size — the standard trainer shape at 100 TB where the
    word-count table is millions of rows against trillions of tokens.

    ROUND BATCHING (``max_batch``; one driver round-trip per merge
    would cap a realistic vocabulary at 32k): each round
    accepts a PREFIX of the rank order (count desc, a, b) whose merges
    are provably the next sequential picks, so the learned merge list
    is IDENTICAL to the one-merge-per-round trainer (pinned in
    test_pipeline both against ``max_batch=1`` and the plain-Python
    Sennrich loop). A candidate after the first is accepted only if
    1. its symbols are disjoint from every already-accepted pair this
       round — applying an earlier accepted merge then provably leaves
       the candidate's count unchanged (pair occurrences only change
       where they overlap a merged occurrence, which requires a shared
       symbol), and
    2. it STRICTLY dominates every pair that shares a symbol with the
       accepted set — both the ones inside the collected top-K (no tie
       at the candidate's count) and everything below the collected
       horizon (bounded by the K+1-th count). Any pair the sequential
       trainer could newly create or re-rank at this turn — (x, ab)
       after merging (a, b), bounded by count(x, a) since every x·a·b
       occurrence is an x·a occurrence — shares a symbol with the
       accepted set, so strict dominance means the candidate is the
       unique sequential argmax at its turn, tie-breaks included.
    The batch stops at the first non-accepted candidate (rank order
    must be preserved). Worst case (adversarially tied counts) degrades
    to one merge per round — never to a wrong merge list. A 32k-vocab
    train on a Zipf corpus takes ~32000/avg_batch driver round-trips.

    Returns (merges list[(a, b)], words DataFrame(word, count, syms));
    ``words`` is a cut, which the caller frees with ``superstep.release``.
    """
    words, _ = cut(
        docs.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "syms",
            F.concat(
                F.split(F.col("w"), "(?!$)"), F.array(F.lit("</w>"))
            ),
        )
    )
    merges: list[tuple[str, str]] = []
    k_horizon = max(2 * max_batch, 32)
    while len(merges) < n_merges:
        top = (
            words.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(k_horizon + 1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        # counts below the collected horizon are <= this bound; a
        # candidate must strictly beat it (an unseen pair sharing a
        # symbol with the batch could otherwise tie at its turn)
        outside = top[k_horizon]["n"] if len(top) > k_horizon else 0
        batch: list[tuple[str, str]] = []
        used: set[str] = set()
        cap = min(max_batch, n_merges - len(merges))
        for i, row in enumerate(top[:k_horizon]):
            a, b, n = row["a"], row["b"], row["n"]
            if n < 2 or len(batch) >= cap:
                break
            if batch:
                if a in used or b in used:
                    break  # count would change under the batch
                if outside >= n:
                    break  # unseen sharing pair could tie
                if any(
                    r["n"] == n and (r["a"] in used or r["b"] in used)
                    for r in top[i + 1 : k_horizon]
                ):
                    break  # in-horizon sharing pair ties at n
            batch.append((a, b))
            used.update((a, b))
        merges.extend(batch)
        sym = F.col("syms")
        for a, b in batch:
            sym = _merge_pair(sym, a, b)
        nxt, _ = cut(words.withColumn("syms", sym))
        release(words)
        words = nxt
    return merges, words


def bpe_encode(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Apply a trained BPE merge list: every merge is one array fold,
    and the whole list composes into a SINGLE fused projection — the
    encode pass over a 100 TB corpus is one shuffle-free scan no matter
    how many merges were learned.

    Returns (doc_id, n_words, n_bpe_tokens) — the compression the
    trained vocabulary achieves per document.
    """
    word = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
    d = docs.select("doc_id", word)
    sym = F.concat(F.split(F.col("w"), "(?!$)"), F.array(F.lit("</w>")))
    for a, b in merges:
        sym = _merge_pair(sym, a, b)
    return (
        d.select("doc_id", F.size(sym).alias("n_sym"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


def unigram_commonness(
    docs: DataFrame,
    text_col: str = "text",
    rare_threshold: int = 3,
) -> DataFrame:
    """Corpus-global unigram commonness features per document — the
    log-free rendering of unigram-LM quality scoring.

    For each doc: ``n_tokens``, ``sum_cf`` (sum of corpus frequencies of
    its tokens), ``n_rare`` (tokens whose corpus frequency <
    ``rare_threshold``), ``avg_token_prob`` = sum_cf / (n_tokens · T)
    (the mean unigram probability of the doc's tokens, T = corpus token
    count) and ``rare_frac``. A true log-prob scorer is the same plan
    with ``F.log`` in the sum — deliberately NOT used here because
    transcendental rounding differs across engines, while these exact
    BIGINT sums with one final IEEE division are bit-reproducible
    (the engine's determinism contract).

    Scale: ONE per-(doc, token) count aggregate feeds all three
    consumers (corpus token frequencies, the corpus total, and the
    per-doc rollup) — its shuffle exchange is canonically identical in
    every branch, so Spark reuses it and the corpus is exploded exactly
    once (the naive form re-scanned it three times). The token→frequency
    join shuffles on the token key, where natural-language skew ("the")
    is the classic hot-key case — AQE skew-join splits it, or broadcast
    the head of the vocabulary (it is Zipf-bounded) and join only the
    tail. One map-side-combinable groupBy(doc_id) closes the plan.
    """
    toks = (
        docs.select("doc_id", F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t0"))
        .select("doc_id", F.lower(F.col("t0")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    db = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    cf = db.groupBy("tok").agg(F.sum("cnt").alias("cf"))
    total = db.agg(F.sum("cnt").alias("t_total"))
    per = (
        db.join(cf, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("cf")).alias("sum_cf"),
            F.sum(
                F.when(F.col("cf") < rare_threshold, F.col("cnt")).otherwise(
                    0
                )
            ).alias("n_rare"),
        )
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "sum_cf",
            "n_rare",
            (
                F.col("sum_cf").cast("double")
                / (F.col("n_tokens").cast("double") * F.col("t_total").cast("double"))
            ).alias("avg_token_prob"),
            (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")).alias(
                "rare_frac"
            ),
        )
    )


def bigram_fluency(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    train: str = "train",
    holdout: str = "eval",
    key_col: str = "doc_id",
    text_col: str = "text",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """Bigram-LM fluency scoring of a holdout split against an LM whose
    counts come from the train split — the log-free rendering of the
    perplexity quality filter (score eval candidates with an n-gram LM
    trained on the corpus, drop the tail).

    For each holdout doc: ``n_bigrams``; ``mean_cond_ppb`` = mean of the
    train-LM conditional probabilities P(w2|w1) of its adjacent-token
    transitions, in exact parts-per-billion (unseen transitions score
    0); ``novel_frac`` = fraction of transitions whose bigram never
    occurs in train. A true log-perplexity is this plan with ``F.log``
    in the sum — deliberately NOT used: transcendental rounding differs
    across engines, while (pair_n · 10⁹) div prefix_n is exact integer
    arithmetic on both, summed exactly, with one final IEEE division
    (the engine's determinism contract). The multiply runs in
    DECIMAL(38,0) so a >9.2B-occurrence head bigram (possible in a
    100 TB train split) cannot overflow the int64 product.

    Scale: bigrams are built array-side (scan-fused); ONE
    per-(doc, split, w1, w2) count aggregate feeds both the LM fit and
    the holdout scoring (exchange reused — the corpus is exploded
    once); the LM is two vocabulary-bounded aggregates; scoring is one
    equi-join per distinct doc-bigram on the (w1, w2) key — Zipf
    hot-key case, AQE skew-join territory — then a map-side-combinable
    groupBy(doc_id). No all-pairs anywhere; linear in corpus size.
    """
    from .sampling import split_column

    weights = weights or {train: 0.9, holdout: 0.1}
    tagged = docs.withColumn("__split", split_column(F.col(key_col), weights))

    bg = (
        tagged.select(
            key_col,
            "__split",
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
        )
        .select(
            key_col,
            "__split",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "filter(transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i - 1] AS w1, t[i] AS w2)),"
                    " p -> p.w1 <> '' AND p.w2 <> '') "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select(
            key_col,
            "__split",
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )
    )
    # One per-(doc, split, w1, w2) count aggregate feeds BOTH the LM
    # fit (train side) and the holdout scoring — its exchange is reused
    # across the branches, so the corpus is scanned and the bigram
    # explode evaluated once, not once per split.
    db = bg.groupBy(key_col, "__split", "w1", "w2").agg(
        F.count("*").cast("long").alias("cnt")
    )
    pair = (
        db.filter(F.col("__split") == train)
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("pair_n"))
    )
    prefix = pair.groupBy("w1").agg(F.sum("pair_n").alias("prefix_n"))
    ev = db.filter(F.col("__split") == holdout)
    scored = (
        ev.join(pair, ["w1", "w2"], "left")
        .join(prefix, ["w1"], "left")
        .select(
            key_col,
            "cnt",
            F.coalesce(
                F.expr(f"(CAST(pair_n AS DECIMAL(38,0)) * {ppb}) div prefix_n"),
                F.lit(0).cast("long"),
            ).alias("p_ppb"),
            F.col("pair_n").isNull().cast("long").alias("novel"),
        )
    )
    return (
        scored.groupBy(key_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("p_ppb")).alias("sum_ppb"),
            F.sum(F.col("cnt") * F.col("novel")).alias("n_novel"),
        )
        .select(
            key_col,
            "n_bigrams",
            (
                F.col("sum_ppb").cast("double") / F.col("n_bigrams").cast("double")
            ).alias("mean_cond_ppb"),
            (
                F.col("n_novel").cast("double") / F.col("n_bigrams").cast("double")
            ).alias("novel_frac"),
        )
    )


def bm25_rank(
    docs: DataFrame,
    terms: tuple[str, ...] = ("dup", "vector", "stream"),
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    top: int = 10,
    key_col: str = "doc_id",
    text_col: str = "text",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones) with tf saturation
    and document-length normalization — the canonical lexical ranker a
    corpus-curation stack runs next to embedding ANN, and what plain
    tf·idf (docs_keyword_search) lacks: a second 'dup' adds less than
    the first (k1 saturation) and a hit in a short doc outranks the
    same hit buried in a long one (b normalization).

    Determinism (the engine's oracle contract): every per-term score is
    ONE exact integer ratio. With k1 = k1n/k1d and b = bn/bd rational,

        tf_part = tf(k1+1) / (tf + k1(1-b) + k1·b·dl·N/TL)
                = c_num·tf·TL / (c_tf·tf·TL + c_tl·TL + c_dl·dl·N)

    after clearing denominators (c_* are small ints precomputed below;
    TL = total corpus tokens, dl = doc length). The idf is the log-free
    raw-odds form (2N-2df+1)/(2df+1) — per-term rank-equivalent to the
    BM25 log idf since ln is monotone, and exactly representable as an
    integer ratio (transcendentals are not bit-stable across engines).
    score_ppb = (c_num·tf·TL·(2N-2df+1)·10^9) div
                ((c_tf·tf·TL + c_tl·TL + c_dl·dl·N)·(2df+1)),
    computed in DECIMAL(38,0), truncating division, all operands exact
    integers — bit-identical on any engine. The per-doc total adds the
    fixed per-term columns in declared order (no float reduction); the
    single IEEE op is the final /10^9 display cast. BIGINT score bound:
    tf_part < k1+1 and idf < 2N, so ppb scores stay under 2^63 up to
    N ≈ 10^9 docs; past that, keep the DECIMAL form.

    Scale: tf and dl are computed ARRAY-SIDE (size/array_remove
    arithmetic — codegen-friendly, unlike lambda HOFs)
    — scan-fused, no explode; the per-doc (id, dl, tf...) frame is
    repartitioned by doc so its exchange is REUSED by both the
    corpus-stats aggregate (N, TL, df — one single-row broadcast) and
    the scoring projection: ONE text scan plus a ~40-byte/doc shuffle,
    never a second pass over the raw text. Ranking is
    TakeOrderedAndProject.
    """
    k1n, k1d = k1
    bn, bd = b
    c_num = (k1n + k1d) * bd  # tf(k1+1), denominators cleared
    c_tf = k1d * bd
    c_tl = k1n * (bd - bn)
    c_dl = k1n * bn
    # NULL-text contract: a NULL doc is not part of the
    # retrieval corpus — it must not inflate n_docs (idf) or appear in
    # per-doc stats. Mirrored by WHERE text IS NOT NULL in the oracles.
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        key_col,
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
    )
    # tf and dl as size/array_remove arithmetic, NOT size(filter(..)):
    # lambda higher-order functions are interpreted per element in
    # Spark (the engine's measured ~20x HOF tax — see phrase_search),
    # while array_remove stays inside whole-stage codegen.
    # The narrow doc-keyed repartition makes the (id, dl, tf...) frame
    # an Exchange that BOTH consumers (the corpus-stats aggregate and
    # the scoring projection) reuse — one text scan + a ~40-byte/doc
    # shuffle instead of scanning and re-tokenizing the corpus twice
    # (measured 5x at sf1; at 100 TB the avoided second scan is
    # multi-KB/doc of text).
    per = toks.select(
        key_col,
        F.size(F.array_remove(F.col("t"), ""))
        .cast("long")
        .alias("dl"),
        *[
            (F.size(F.col("t")) - F.size(F.array_remove(F.col("t"), term)))
            .cast("long")
            .alias(f"tf_{term}")
            for term in terms
        ],
    ).repartition(F.col(key_col))
    g = per.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("long")).alias(f"df_{term}")
            for term in terms
        ],
    )
    # Per-term CONSTANTS factored into the (single-row) stats frame, so
    # the per-doc score is k*tf div (d1*tf + d2 + d3*dl) — 3 DECIMAL
    # multiplies per row-term instead of ~8. Pure integer regrouping
    # (associativity/distributivity over exact ints), so the div
    # operands — and therefore every score — are bit-identical to the
    # inline form the oracle SQL computes. The broadcast goes through
    # an equi-key BroadcastHashJoin (codegen) rather than a
    # BroadcastNestedLoopJoin cross join, which left the DECIMAL
    # expressions interpreter-evaluated: together 5.6s -> 2.3s at sf1.
    g2 = g.select(
        F.lit(1).alias("__k"),
        *[
            F.expr(
                f"CAST({c_num} AS DECIMAL(38,0)) * total_len"
                f" * (2 * n_docs - 2 * df_{term} + 1) * {ppb}"
            ).alias(f"k_{term}")
            for term in terms
        ],
        *[
            F.expr(
                f"CAST({c_tf} AS DECIMAL(38,0)) * total_len"
                f" * (2 * df_{term} + 1)"
            ).alias(f"d1_{term}")
            for term in terms
        ],
        *[
            F.expr(
                f"CAST({c_tl} AS DECIMAL(38,0)) * total_len"
                f" * (2 * df_{term} + 1)"
            ).alias(f"d2_{term}")
            for term in terms
        ],
        *[
            F.expr(
                f"CAST({c_dl} AS DECIMAL(38,0)) * n_docs"
                f" * (2 * df_{term} + 1)"
            ).alias(f"d3_{term}")
            for term in terms
        ],
    )
    j = per.withColumn("__k", F.lit(1)).join(F.broadcast(g2), "__k")
    score_cols = [
        F.when(
            F.col(f"tf_{term}") > 0,
            F.expr(
                f"CAST((k_{term} * tf_{term}) div"
                f" (d1_{term} * tf_{term} + d2_{term} + d3_{term} * dl)"
                f" AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"s_{term}_ppb")
        for term in terms
    ]
    scored = j.select(
        key_col, "dl", *[f"tf_{term}" for term in terms], *score_cols
    )
    total = F.col(f"s_{terms[0]}_ppb")
    for term in terms[1:]:
        total = total + F.col(f"s_{term}_ppb")  # fixed declared order
    return (
        scored.withColumn("bm25_ppb", total.cast("long"))
        .filter(F.col("bm25_ppb") > 0)
        .withColumn(
            "bm25", F.col("bm25_ppb").cast("double") / F.lit(float(ppb))
        )
        .orderBy(F.desc("bm25_ppb"), key_col)
        .limit(top)
    )


def nb_lang_classifier(
    docs: DataFrame,
    classes: tuple[str, ...] = ("de", "en", "es", "fr", "zh"),
    weights: dict[str, float] | None = None,
    train: str = "train",
    holdout: str = "eval",
    key_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """Naive-Bayes language classifier, linearized — the MODEL-BASED
    twin of the marker heuristic ``lang_id`` and the pattern every
    fastText-style corpus quality/language classifier follows: fit
    per-class token statistics on a train split, score the holdout,
    report the confusion matrix. NB is the one classic text classifier
    whose training is PURE COUNTING, so both training and scoring stay
    exact-integer and oracle-checkable.

    Model: Laplace-smoothed class conditionals
    ``cond_ppb(t, c) = ((count(t, c) + 1) * 10^9) div (total_c + V)``
    (V = train vocabulary size). Scoring is the linearized form used
    throughout this engine (see ``bigram_fluency``): a document's class
    score is the SUM of its tokens' conditional ppb values — an
    arithmetic mean of conditionals instead of the log-sum (exact
    BIGINTs; logs are transcendental and not bit-stable across
    engines). Prediction is argmax with first-wins tiebreak in declared
    ``classes`` order; every compared quantity is an exact integer, so
    the argmax is bit-deterministic.

    Scale: one per-(doc, split, class, token) count aggregate feeds
    both the train branch (vocabulary-keyed fit, map-side combinable)
    and the holdout branch — its exchange is reused, so the corpus is
    exploded once; class totals and V are a single broadcast row;
    holdout counts join the vocabulary table on the token key (shuffle
    equi-join — the vocabulary, not the corpus, is the build side; at
    web scale this is the same join shape as BPE pair counting) and
    roll up per doc. No all-pairs, no Python, no global sort.

    Output: (actual, predicted, n_docs) confusion-matrix rows.
    """
    from .sampling import split_column

    weights = weights or {train: 0.9, holdout: 0.1}
    split = split_column(F.col(key_col), weights)
    tagged = docs.filter(F.length(F.trim(F.col(text_col))) > 0).withColumn(
        "__split", split
    )
    toks = tagged.select(
        key_col,
        "__split",
        F.col(label_col).alias("actual"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")

    # One per-(doc, split, class, token) count aggregate feeds BOTH the
    # train branch (vocabulary fit) and the holdout branch (scoring):
    # the shuffle exchange is canonically identical in the two
    # branches, so Spark reuses it and the corpus explode runs once
    # (filtering by split before separate aggregates re-scanned it
    # twice).
    db = toks.groupBy(key_col, "__split", "actual", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )
    vocab = (
        db.filter(F.col("__split") == train)
        .groupBy("tok")
        .agg(
            *[
                F.sum(
                    F.when(F.col("actual") == c, F.col("cnt")).otherwise(0)
                ).alias(f"cnt_{c}")
                for c in classes
            ]
        )
    )
    totals = vocab.agg(
        F.count("*").cast("long").alias("v_size"),
        *[
            F.sum(f"cnt_{c}").cast("long").alias(f"total_{c}")
            for c in classes
        ],
    )

    ev = db.filter(F.col("__split") == holdout).select(
        key_col, "actual", "tok", "cnt"
    )
    j = ev.join(vocab, "tok", "left").crossJoin(F.broadcast(totals))
    contrib = [
        (
            F.col("cnt")
            * F.expr(
                f"CAST((CAST(coalesce(cnt_{c}, 0) AS DECIMAL(38,0)) + 1)"
                f" * {ppb} div (total_{c} + v_size) AS BIGINT)"
            )
        ).alias(f"w_{c}")
        for c in classes
    ]
    per_doc = (
        j.select(key_col, "actual", "cnt", *contrib)
        .groupBy(key_col, "actual")
        .agg(
            *[F.sum(f"w_{c}").cast("long").alias(f"s_{c}") for c in classes]
        )
    )
    pred = None
    for c in classes:
        cond = None
        for d in classes:
            if d == c:
                continue
            ge = F.col(f"s_{c}") >= F.col(f"s_{d}")
            cond = ge if cond is None else cond & ge
        pred = (
            F.when(cond, F.lit(c))
            if pred is None
            else pred.when(cond, F.lit(c))
        )
    return (
        per_doc.withColumn("predicted", pred)
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


def dsir_importance(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 4096,
    top: int = 25,
    key_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR; Xie et al.,
    NeurIPS 2023), linearized: score every document by how much its
    HASHED-unigram distribution resembles a target domain versus the
    raw corpus, and keep the top-k. This is the standard pretraining
    data-selection recipe — hashed n-gram features make the model size
    FIXED (``n_buckets`` rows) regardless of vocabulary, which is what
    lets it run over an unbounded 100 TB token stream.

    Per bucket b (token -> md5 % n_buckets, the portable hash family),
    with T_t / T_r the target / raw token totals and cf the bucket
    counts, the per-token lift is the Laplace-smoothed probability
    ratio rendered as one exact integer:

        lift_ppb(b) = ((cf_t + 1) * (T_r + B) * 10^9)
                      div ((cf_r + 1) * (T_t + B))

    computed in DECIMAL(38,0) (the triple product overflows BIGINT at
    corpus scale). A doc's score is mean token lift — linearized (sum
    of per-token lifts div n_tokens, exact truncating div) instead of
    the log-ratio sum, same rationale as ``nb_lang_classifier``.
    mean > 1e9 reads "looks more like the target than the corpus".

    Scale: one per-(doc, bucket) count aggregate feeds BOTH the model
    pass (bucket stats, <= n_buckets rows, broadcast back) and the
    score pass (broadcast-hash join + doc-keyed rollup) — its shuffle
    exchange is reused across the branches, so the corpus is scanned
    and hashed exactly once, and the one wide shuffle carries at most
    (docs x buckets-per-doc) count rows, never raw tokens. Selection
    is TakeOrderedAndProject on (mean_lift_ppb DESC, doc_id).

    Output: top-k (doc_id, lang, n_tokens, mean_lift_ppb, mean_lift).
    """
    toks = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        key_col,
        F.col(label_col).alias("lang"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    bucketed = toks.withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        % n_buckets,
    )
    # Both the model pass (bucket stats) and the score pass hang off
    # ONE per-(doc, bucket) aggregate: its shuffle exchange is
    # canonically identical in the two branches, so Spark reuses it
    # (ReusedExchange) and the corpus explode + md5 runs ONCE — the
    # naive two-branch form re-scanned and re-hashed the whole corpus
    # for each pass (DuckDB materializes its CTE and didn't pay that).
    db = bucketed.groupBy(key_col, "lang", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    stats = db.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cf_r"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(0)
        )
        .cast("long")
        .alias("cf_t"),
    )
    totals = stats.agg(
        F.sum("cf_r").cast("long").alias("t_r"),
        F.sum("cf_t").cast("long").alias("t_t"),
    )
    lifts = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"CAST((CAST(cf_t AS DECIMAL(38,0)) + 1) * (t_r + {n_buckets})"
            f" * {ppb} div ((cf_r + 1) * (t_t + {n_buckets})) AS BIGINT)"
        ).alias("lift_ppb"),
    )
    per_doc = (
        db.join(F.broadcast(lifts), "bucket")
        .groupBy(key_col, "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lift_ppb"))
            .cast("long")
            .alias("sum_lift_ppb"),
        )
        .select(
            key_col,
            "lang",
            "n_tokens",
            F.expr("sum_lift_ppb div n_tokens").alias("mean_lift_ppb"),
        )
    )
    return (
        per_doc.withColumn(
            "mean_lift",
            F.col("mean_lift_ppb").cast("double") / F.lit(float(ppb)),
        )
        .orderBy(F.desc("mean_lift_ppb"), key_col)
        .limit(top)
    )


def phrase_search(
    docs: DataFrame,
    phrase: tuple[str, ...] = ("table", "scan"),
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase retrieval: docs whose token stream contains the
    query tokens CONSECUTIVELY, with occurrence count and the first
    match position — the positional-index phrase query of classic IR
    (the third retrieval mode next to docs_keyword_search's bag-of-
    words tf·idf and docs_bm25_search's ranked BM25: those can't tell
    "table scan" from "scan ... table").

    Plan: a COARSE JVM-regex prefilter, then an exact array-side
    verify. The prefilter `text RLIKE '(?i)table\\s+scan'` is a strict
    SUPERSET of token-adjacent matches (any adjacent token pair is, by
    construction of the \\s+ tokenizer, the phrase terms separated by
    whitespace in the raw text — substring hits like 'stable scan' are
    false positives the verify step removes, never false negatives),
    runs inside whole-stage codegen at scan speed, and drops the
    non-matching bulk of the corpus. The exact pass — the positional
    higher-order function `filter(sequence(0, size(t)-m), i ->
    t[i]=.. AND t[i+1]=..)` with OVERLAPPING-occurrence semantics — is
    lambda-interpreted in Spark (measured 22x the oracle when run over
    the FULL corpus at sf1; the engine's known interpreted-HOF tax), so
    it must only ever touch the candidate set: prefiltered, the query
    measures 6.3s/1.6x at sf1 (DuckDB pays the same list-lambda tax —
    its 4s is the same verify loop). ZERO shuffle either way; the classic
    positional-postings self-join (docs_inverted_index materializes
    those postings) costs m shuffles and only wins with a prebuilt
    index. Positions are 0-based token offsets, matching the engine's
    posexplode convention (winnow fingerprints, chunking).

    Output: (doc_id, n_matches, first_pos) for matching docs only.
    """
    import re as _re

    m = len(phrase)
    terms = [tok.lower() for tok in phrase]
    # (?u) so the prefilter's case folding matches the Unicode-aware
    # F.lower used by the exact pass (ASCII-only (?i) could produce
    # prefilter false NEGATIVES on non-ASCII phrases).
    coarse = r"(?iu)" + r"\s+".join(_re.escape(tok) for tok in phrase)

    def _adjacent(i):
        # tokens bound via F.lit (parameterized — a quote in a query
        # term is data, not SQL); element_at is 1-based, i is 0-based.
        cond = F.lit(True)
        for j, tok in enumerate(terms):
            cond = cond & (
                F.element_at(F.col("t"), i + F.lit(j + 1)) == F.lit(tok)
            )
        return cond

    toks = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .filter(F.col(text_col).rlike(coarse))
        .select(
            key_col,
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
        )
    )
    hits = (
        toks.filter(F.size("t") >= m)
        .select(
            key_col,
            F.filter(
                F.sequence(F.lit(0), F.size("t") - m), _adjacent
            ).alias("hits"),
        )
        .filter(F.size("hits") > 0)
    )
    return hits.select(
        key_col,
        F.expr("size(hits)").cast("long").alias("n_matches"),
        F.expr("hits[0]").cast("long").alias("first_pos"),
    ).orderBy(key_col)


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top: int = 20,
    text_col: str = "text",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """Collocation extraction: rank adjacent word pairs by pointwise
    mutual information — the classic NLP recipe (Church & Hanks 1990)
    for surfacing multiword expressions ("new york") that plain bigram
    COUNTS (docs_bigram_counts) bury under frequent-word pairs.

    Log-free rendering per the engine's determinism contract: PMI =
    log(P(w1,w2) / (P(w1,·)P(·,w2))) is monotone in the RATIO, so
    ranking by the exact integer

        lift_ppb = (pair_n * B * 10^9) div (left_n * right_n)

    (B = total bigram positions, left_n / right_n = the pair-table
    marginals of w1-as-first / w2-as-second) is rank-equivalent to PMI
    and bit-identical across engines; the triple product runs in
    DECIMAL(38,0). ``min_count`` is the standard PMI low-frequency
    guard (rare pairs otherwise dominate the ratio).

    Scale: ONE bigram explode into a (w1, w2) pair-count aggregate
    (vocabulary-squared-bounded, map-side combinable); both marginals
    and the total derive FROM the pair table (no corpus re-scan);
    marginal joins are vocabulary-keyed; selection is
    TakeOrderedAndProject on (lift_ppb DESC, w1, w2).
    """
    bg = (
        docs.select(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t")
        )
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "filter(transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i - 1] AS w1, t[i] AS w2)),"
                    " p -> p.w1 <> '' AND p.w2 <> '') "
                    "ELSE array() END"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    pair = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("pair_n")
    )
    left = pair.groupBy("w1").agg(F.sum("pair_n").alias("left_n"))
    right = pair.groupBy("w2").agg(F.sum("pair_n").alias("right_n"))
    total = pair.agg(F.sum("pair_n").cast("long").alias("b_total"))
    return (
        pair.filter(F.col("pair_n") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_n",
            "left_n",
            "right_n",
            F.expr(
                f"CAST((CAST(pair_n AS DECIMAL(38,0)) * b_total * {ppb})"
                f" div (left_n * right_n) AS BIGINT)"
            ).alias("lift_ppb"),
        )
        .orderBy(F.desc("lift_ppb"), "w1", "w2")
        .limit(top)
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    weights: dict[str, float] | None = None,
    train: str = "train",
    holdout: str = "eval",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Memorization / novelty screen: for every HOLDOUT document, the
    fraction of its n-gram occurrences never seen in the TRAIN split —
    the n-gram-overlap decontamination metric eval suites run before
    trusting a benchmark number (an eval doc whose n-grams are mostly
    present in training data measures memorization, not ability), and
    the same statistic "novel n-gram rate" used to quantify generation
    novelty. Complements the engine's other contamination rungs: the
    Bloom screen (exact 13-gram hits, probabilistic index) and
    winnowing (approximate overlap localization) — this one is the
    exact split-conditioned rate, per document.

    Determinism: the split is the engine's md5-prefix hash split;
    counts are exact integers; ``novel_frac`` is ONE final IEEE divide
    of two exact BIGINTs — bit-identical across engines.

    Scale: grams come from n-1 LEAD columns off ONE per-doc sort
    (posexplode + window, the repetition_stats pattern); the
    per-(doc, split, gram) pre-aggregate groups on a superset of the
    window's doc key, so it reuses that exchange — the corpus is
    exploded and sorted ONCE. The train side then distincts on gram
    (map-side combinable; the gram vocabulary, not the corpus, is
    shuffled) and the holdout side LEFT-joins it gram-keyed — the same
    vocabulary-join shape as BPE pair counting and NB scoring; no
    all-pairs, no Python, no global sort.

    Output: (doc_id, n_grams, n_novel, novel_frac) for holdout docs
    with >= n tokens.
    """
    from .sampling import split_column

    weights = weights or {train: 0.9, holdout: 0.1}
    tagged = docs.filter(F.length(F.trim(F.col(text_col))) > 0).withColumn(
        "__split", split_column(F.col(key_col), weights)
    )
    toks = tagged.select(
        key_col,
        "__split",
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy(key_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = toks.select(
        key_col,
        "__split",
        F.when(
            F.lead("tok", n - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    db = grams.groupBy(key_col, "__split", "gram").agg(
        F.count("*").cast("long").alias("cnt")
    )
    tr = (
        db.filter(F.col("__split") == train)
        .select("gram")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ev = db.filter(F.col("__split") == holdout)
    return (
        ev.join(tr, "gram", "left")
        .groupBy(key_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("__hit").isNull(), F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            key_col,
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
            ).alias("novel_frac"),
        )
    )


def phrase_search_postings(
    docs: DataFrame,
    phrase: tuple[str, ...] = ("table", "scan"),
    key_col: str = "doc_id",
    text_col: str = "text",
    prefilter: bool = True,
) -> DataFrame:
    """Exact-phrase retrieval via POSITIONAL POSTINGS self-joins — the
    classic inverted-index phrase plan (term_i at pos p joins term_{i+1}
    at pos p+1), implemented as the A/B twin of ``phrase_search``'s
    prefilter+HOF-verify plan so the two strategies stay measurable
    against each other (the HOF verify lambda is the interpreted-tax
    floor both engines pay; this variant trades it for
    m-1 doc+position-keyed equi-joins, which win when a prebuilt
    postings index amortizes the explode — see docs_inverted_index).

    Scale: the corpus is posexploded ONCE, then filtered to the m query
    terms BEFORE any join (postings lists for the phrase terms only —
    the selectivity an inverted index would give); joins are equi-joins
    on (doc, position) — skew-bounded by the hottest term's postings
    list; zero HOF lambdas, all whole-stage codegen.

    Output: identical contract to ``phrase_search`` —
    (doc_id, n_matches, first_pos), 0-based token offsets.

    ``prefilter=True`` (default) applies the same coarse rlike
    superset-gate as ``phrase_search`` BEFORE the posexplode, so only
    candidate documents are exploded and joined — measured at sf10:
    HOF verify 56.3 s, postings corpus-wide 12.9 s, postings
    prefiltered wins again on top of that; the DuckDB oracle (the same
    list_filter loop) is 6.4 s, so at volume
    the postings plan — NOT the HOF verify — is the scale path.
    """
    import re as _re

    terms = [tok.lower() for tok in phrase]
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    if prefilter:
        coarse = r"(?iu)" + r"\s+".join(_re.escape(tok) for tok in phrase)
        base = base.filter(F.col(text_col).rlike(coarse))
    toks = base.select(
        key_col,
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    posting = [
        toks.filter(F.col("tok") == F.lit(t)).select(
            F.col(key_col).alias(f"k{i}"), F.col("pos").alias(f"p{i}")
        )
        for i, t in enumerate(terms)
    ]
    joined = posting[0]
    for i in range(1, len(terms)):
        joined = joined.join(
            posting[i],
            (F.col(f"k{i-1}") == F.col(f"k{i}"))
            & (F.col(f"p{i}") == F.col(f"p{i-1}") + 1),
        )
    return (
        joined.groupBy(F.col("k0").alias(key_col))
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.min("p0").cast("long").alias("first_pos"),
        )
        .orderBy(key_col)
    )


def tfidf_keywords(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    head_df: int = 1000,
) -> DataFrame:
    """Per-document keyword extraction by LINEAR-IDF tf-idf (Sparck
    Jones 1972 rendered log-free): score(term, doc) = tf * (N / df),
    the exact-integer rank form of tf-idf with idf linearized — N/df
    is monotone in log(N/df), and a SINGLE IEEE divide of the exact
    int64 product tf*N by the exact int64 df is bit-stable across
    engines, where log is not (the collocations/PMI determinism
    pattern). Distinct from BM25 (bm25_rank ranks DOCS for a query;
    this ranks TERMS within each doc — the keyword/tag extraction step
    of corpus curation and topic labeling).

    Plan: tokenize + explode once; (doc, term) tf is a map-side-
    combinable groupBy; df derives FROM the tf table (term-keyed
    vocabulary aggregate, not a corpus re-scan); N is one broadcast
    scalar row; the top-k window is doc-keyed over the tf table with
    a total order (score desc, term asc). No corpus-sized join, no
    lambda, no Python.

    The df join-back is a ZIPF HEAD/TAIL SPLIT (the naive tf⋈df
    term-shuffle join re-shuffles the whole tf table on the vocabulary's
    hot keys — 28.4 s vs this plan's ~9 s in an sf10 A/B): terms with
    df >= ``head_df`` (the Zipf head — 'the', boilerplate; exactly the
    keys an AQE skew split would have to rescue) are BROADCAST and
    map-side joined, so the hot keys never shuffle; the remaining tail
    joins by term where every key carries < head_df rows BY
    CONSTRUCTION — skew-free without relying on AQE.
    head and tail PARTITION the df table, so the tail inner join
    already excludes every head term — no anti-join needed on the tail
    leg. The tf exchange is canonically identical under both consumers
    (df aggregate, tail join), so Spark reuses one shuffle. head_df
    trades broadcast size against tail width: the head has at most
    (corpus pairs)/head_df terms — Zipf-small in practice — but the
    broadcast is data-dependent-size, so head_df must be chosen so the
    head stays inside the executor broadcast budget (at 100 TB, raise
    head_df until it does; the tail join only gets MORE skew-free).

    Returns (doc_id, term, tf, df, score, rk), rk = 1..top_k.
    """
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    toks = base.select(
        key_col,
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(key_col, "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    nd = base.agg(F.count("*").cast("long").alias("n_docs"))
    head = df_.filter(F.col("df") >= head_df)
    tail = df_.filter(F.col("df") < head_df)
    scored_head = tf.join(F.broadcast(head), "term")
    scored_tail = tf.join(tail, "term")
    scored = (
        scored_head.unionByName(scored_tail)
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(key_col, "term", "tf", "df", "score", F.col("rk").cast("long").alias("rk"))
    )


# the fixed alphabet char_gini counts over — lowercase letters; every
# other character (digits, punctuation, whitespace) pools into 'other'
_GINI_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def char_gini(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-distribution diversity as GINI IMPURITY — the
    exact-rational alternative to character entropy for low-diversity/
    spam screening (keyboard mashing, repeated-char padding, template
    boilerplate score near 0 diversity; natural prose sits high):
    gini = 1 - sum_i (c_i/n)^2 = (n^2 - sum_i c_i^2) / n^2 over the
    26-letter alphabet + one pooled 'other' class. Entropy needs log
    (not bit-stable cross-engine); Gini is integer arithmetic + ONE
    IEEE divide — hash-exact against the SQL oracle by construction.

    Plan: lowering/trimming/filtering stay JVM-side; the 27-class
    counting runs as ONE Arrow ``mapInPandas`` pass using C-speed
    ``str.count`` per letter — zero shuffle, zero explode,
    embarrassingly parallel. The first rendering expressed the counts
    as 26 Catalyst length/replace pairs (pure codegen, no Python),
    but each replace ALLOCATES a copy of the document: measured 76 s
    vs DuckDB's 5.3 s for the identical SQL shape at sf10 (500 k docs
    / 149 M chars) — the batch form scans the same bytes at C speed
    without the 13 M string allocations. Exactness is preserved:
    Python ``str.count`` over the JVM-lowered text counts the same
    code points as length/replace; n² − Σc² is exact integer math
    (Python ints, overflow-free), and the single true-division is the
    same CAST-to-double + IEEE divide both engines perform.

    Returns (doc_id, n_chars_counted, gini) for non-empty docs.
    """
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        "doc_id", F.lower(F.trim(F.col(text_col))).alias("t")
    )

    def _count_batches(batches):
        import pandas as pd

        letters = _GINI_ALPHABET
        for pdf in batches:
            if pdf.empty:
                continue
            ids, ns, ginis = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                n = len(t)
                counts = [t.count(ch) for ch in letters]
                other = n - sum(counts)
                sumsq = sum(c * c for c in counts) + other * other
                ids.append(doc_id)
                ns.append(n)
                ginis.append((n * n - sumsq) / (n * n))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_chars_counted": pd.array(ns, dtype="int64"),
                    "gini": pd.array(ginis, dtype="float64"),
                }
            )

    return base.mapInPandas(
        _count_batches, "doc_id long, n_chars_counted long, gini double"
    )


# Gopher rule constants (Rae et al. 2021, A1.1) — integer-ratio forms
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality-filter rule bundle (Rae et al. 2021, Appendix
    A1.1) — the standard pre-training heuristic gate, each rule as an
    EXACT INTEGER comparison (no float thresholds, so the oracle
    hash-matches by construction):

      word_count       min_words <= n_words <= max_words
      mean_word_len    3 <= mean <= 10, as 3*n_words <= word_chars
                       AND word_chars <= 10*n_words
      symbol_ratio     (# '#' + # '...') / n_words <= 0.1, as
                       10*(n_hash + n_ellipsis) <= n_words
      bullet_lines     <= 90% lines start with a bullet, as
                       10*n_bullet <= 9*n_lines
      ellipsis_lines   <= 30% lines end with '...', as
                       10*n_ell_lines <= 3*n_lines
      alpha_words      >= 80% words contain a letter, as
                       5*n_alpha >= 4*n_words
      stop_words       >= 2 of the 8 canonical English stopwords

    Plan: one Arrow ``mapInPandas`` pass computing every signal with
    C-speed string primitives — zero shuffle, scan-fused,
    embarrassingly parallel at 100 TB. This is the op's THIRD
    rendering, each measured at sf10 (500 k docs / 149 M chars):
    split + per-token ``list_filter`` lambdas paid
    the interpreted-HOF tax (52.9 s); single-pass ``regexp_count``
    with lookaround token boundaries stayed whole-stage-codegen but
    the JVM regex engine is ~4x DuckDB's RE2 on the same patterns
    (21.9 s at full read parallelism); the batch form scans the same
    bytes with str.count/split/startswith (5.0 s vs DuckDB's 5.1 s =
    parity). Tokenization parity is pinned: Python ``re.ASCII`` \\s
    == Java \\s == [ \\t\\n\\x0B\\f\\r]; lowering stays JVM-side
    (``F.lower``) so case folding is the engines', not Python's.

    Returns per-doc flags + n_words + keep (AND of all rules).
    """
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        "doc_id",
        F.col(text_col).alias("raw"),
        F.trim(F.col(text_col)).alias("t"),
        F.lower(F.trim(F.col(text_col))).alias("tl"),
    )
    stopset = frozenset(_GOPHER_STOPWORDS)

    def _rule_batches(batches):
        import re

        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)      # Java \s == ASCII \s
        # tokens with NO a-z letter (rare in text): one C-speed scan per
        # doc replaces a per-token regex search over every token
        noalpha = re.compile(r"(?<!\S)[^a-z\s]+(?!\S)", re.ASCII)
        ws_chars = " \t\n\x0b\f\r"             # the Java \s class
        cols = (
            "doc_id", "n_words", "rule_word_count", "rule_mean_word_len",
            "rule_symbol_ratio", "rule_bullet_lines", "rule_ellipsis_lines",
            "rule_alpha_words", "rule_stop_words", "keep",
        )
        for pdf in batches:
            if pdf.empty:
                continue
            out = {c: [] for c in cols}
            for doc_id, raw, t, tl in zip(
                pdf["doc_id"], pdf["raw"], pdf["t"], pdf["tl"]
            ):
                toks = ws.split(tl)
                n_words = len(toks)
                word_chars = len(t) - sum(t.count(c) for c in ws_chars)
                n_sym = t.count("#") + t.count("...")
                lines = raw.split("\n")
                n_lines = len(lines)
                # tuple membership, NOT `ln[:1] in "-*•"`: an empty
                # line's '' is a substring of any string and would
                # count as a bullet (caught by the hypothesis mirror)
                n_bullet = sum(ln.startswith(("-", "*", "•")) for ln in lines)
                n_ell = sum(ln.endswith("...") for ln in lines)
                # empty boundary tokens (\s+ split of text with a
                # leading/trailing \n or \t — trim strips spaces only)
                # bear no letter: the oracle's list_filter excludes
                # them, and the noalpha regex cannot match '' — so
                # subtract them explicitly
                n_alpha = (
                    n_words
                    - len(noalpha.findall(tl))
                    - (toks[0] == "")
                    - (len(toks) > 1 and toks[-1] == "")
                )
                n_stop = sum(map(stopset.__contains__, toks))
                r_wc = min_words <= n_words <= max_words
                r_mwl = 3 * n_words <= word_chars <= 10 * n_words
                r_sym = 10 * n_sym <= n_words
                r_bul = 10 * n_bullet <= 9 * n_lines
                r_ell = 10 * n_ell <= 3 * n_lines
                r_alpha = 5 * n_alpha >= 4 * n_words
                r_stop = n_stop >= 2
                vals = (
                    doc_id, n_words, r_wc, r_mwl, r_sym, r_bul, r_ell,
                    r_alpha, r_stop,
                    r_wc and r_mwl and r_sym and r_bul and r_ell
                    and r_alpha and r_stop,
                )
                for c, v in zip(cols, vals):
                    out[c].append(v)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "n_words": pd.array(out["n_words"], dtype="int64"),
                    **{
                        c: pd.array(out[c], dtype="bool")
                        for c in cols[2:]
                    },
                }
            )

    return base.mapInPandas(
        _rule_batches,
        "doc_id long, n_words long, rule_word_count boolean, "
        "rule_mean_word_len boolean, rule_symbol_ratio boolean, "
        "rule_bullet_lines boolean, rule_ellipsis_lines boolean, "
        "rule_alpha_words boolean, rule_stop_words boolean, "
        "keep boolean",
    )


def langid_agreement(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Label-vs-heuristic language QA: the confusion matrix between the
    corpus's declared ``lang`` column and ``language_scores``'s
    marker-word prediction — the agreement report a curator reads
    before trusting EITHER signal for filtering (systematic
    disagreement on one (lang, source) slice usually means mislabeled
    ingest, not a bad classifier). Ties in the argmax resolve to the
    lexicographically GREATEST language (array_max over (hits, lang)
    structs — replicated verbatim by the oracle's (h DESC, l DESC)
    rank). Plan: the marker counting is the language_scores scan —
    one single-pass ``regexp_count`` per language with lookaround
    token boundaries, zero shuffle (the interpreted list_filter form
    took 51.5 s at sf10, this one 4.2 s); the
    rollup is one lang x predicted groupBy — at most |langs|² rows
    out of any corpus size.

    Returns (lang, predicted_lang, n_docs).
    """
    pred = language_scores(docs, text_col)
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def ccnet_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al. 2020):
    rank every document inside its language by a corpus-LM quality
    score and cut each language into equal-count tiers — CCNet's
    head/middle/tail split that downstream pipelines use to keep head,
    sample middle, drop tail.

    The score is the log-free commonness key ``commonness_ppb =
    (sum_cf * 10^9) div n_tokens`` — mean corpus frequency of the doc's
    tokens as ONE exact truncating BIGINT ratio (a perplexity scorer is
    the same plan with a log-sum; transcendentals are not bit-stable
    across engines, the monotone integer ratio is). Higher commonness =
    more head-like, mirroring CCNet's lower-perplexity-is-better.
    Buckets come from NTILE(n) over (lang) ordered by (commonness desc,
    doc_id) — the doc_id tiebreak makes the tile assignment a total
    order, hence cross-engine identical.

    Returns (doc_id, lang, n_tokens, commonness_ppb, bucket, tier) with
    tier in {head, middle, tail} (bucket numbers beyond 3 keep the
    numeric label only).

    Scale: token frequencies exactly as ``unigram_commonness`` (one
    exploded count aggregate reused by all consumers, Zipf hot-key note
    there). The NTILE window is the one non-scalable piece at 100 TB —
    a per-lang window is a per-lang SORT on a handful of partition keys
    (en alone would be one executor's sort). The production swap is
    approx_percentile cutoffs per lang (one scalar row per lang,
    broadcast back, bucket by comparison) — kept OUT of the default
    plan only because approximate cutoffs are not oracle-exact; the
    fixture languages are small enough to sort exactly.
    """
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t0"),
        )
        .select("doc_id", "lang", F.lower(F.col("t0")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    db = toks.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("cnt"))
    cf = db.groupBy("tok").agg(F.sum("cnt").alias("cf"))
    per = (
        db.join(cf, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            # cnt*cf in LONG wraps silently on a Zipf-heavy corpus (per-
            # token products approach 10^17 at 100 TB; 10^4 distinct
            # tokens/doc puts the sum past 2^63) while the DuckDB oracle
            # sums BIGINTs into HUGEINT — sum in DECIMAL(38,0) so the
            # Spark side stays exact and matches the HUGEINT oracle
            # (the bm25_rank pattern, text.py §BM25).
            F.sum(
                F.col("cnt").cast("decimal(19,0)") * F.col("cf").cast("decimal(19,0)")
            ).alias("sum_cf"),
        )
        .withColumn(
            "commonness_ppb",
            F.expr(f"CAST((sum_cf * {ppb}) div n_tokens AS BIGINT)"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("commonness_ppb"), "doc_id")
    return per.select(
        "doc_id",
        "lang",
        "n_tokens",
        "commonness_ppb",
        F.ntile(n_buckets).over(w).cast("int").alias("bucket"),
    ).withColumn(
        "tier",
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .when(F.col("bucket") == 3, F.lit("tail"))
        .otherwise(F.col("bucket").cast("string")),
    )


def rrf_fusion(
    docs: DataFrame,
    terms_a: tuple[str, ...] = ("dup", "vector", "stream"),
    terms_b: tuple[str, ...] = ("merge", "window", "batch"),
    rrf_k: int = 60,
    depth: int = 50,
    top: int = 10,
    key_col: str = "doc_id",
    text_col: str = "text",
    ppb: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion of two lexical rankers (Cormack et al.
    2009) — the multi-query retrieval pattern RAG pipelines run when
    query rewriting produces several formulations of one information
    need: rank each formulation independently (here: BM25 over two term
    sets, ``bm25_rank``'s exact-integer scorer), then fuse by
    ``sum 1/(k + rank)`` so agreement between rankers beats a single
    high rank.

    Determinism: ranks are row_number over (score desc, doc_id) — a
    total order — and each contribution is the exact truncating BIGINT
    ``10^9 div (k + rank)``; the fused score is a sum of those integers,
    so it is bit-identical across engines (no IEEE reciprocals summed).
    Docs outside a ranker's depth contribute 0 from that ranker (the
    standard list-truncated RRF).

    Scale: each ranker ends in TakeOrderedAndProject(depth) — the only
    full-corpus work is the two BM25 scans, which are themselves
    zero-shuffle scan-aggregates (see ``bm25_rank``). The rank window
    and the fusion join run on two depth-row frames (constant-size,
    single partition by construction — this is post-top-k driver-scale
    data kept distributed, not a corpus window).
    """
    def ranked(terms: tuple[str, ...], rank_name: str) -> DataFrame:
        t = bm25_rank(
            docs, terms=terms, top=depth, key_col=key_col, text_col=text_col, ppb=ppb
        ).select(key_col, "bm25_ppb")
        w = Window.orderBy(F.desc("bm25_ppb"), key_col)
        return t.select(
            key_col, F.row_number().over(w).cast("long").alias(rank_name)
        )

    a = ranked(terms_a, "rank_a")
    b = ranked(terms_b, "rank_b")
    fused = (
        a.join(b, key_col, "full_outer")
        .withColumn(
            "rrf_ppb",
            F.coalesce(
                F.expr(f"CAST({ppb} div ({rrf_k} + rank_a) AS BIGINT)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"CAST({ppb} div ({rrf_k} + rank_b) AS BIGINT)"), F.lit(0)
            ),
        )
        .orderBy(F.desc("rrf_ppb"), key_col)
        .limit(top)
    )
    return fused.select(key_col, "rank_a", "rank_b", "rrf_ppb")
