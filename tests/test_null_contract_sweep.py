"""NULL/empty-input contract sweeps for the docs and events families
(the NULL-ts sweep found 4 real divergences, so the same class is
tested for every other nullable input):

- NULL / empty / whitespace-only ``text`` in the documents family:
  tokenizers, shingles, and regex splits are exactly where Spark and
  DuckDB disagree (``split`` on NULL, ``unnest`` of empty lists,
  ``md5(NULL)``), and the shipped testdata has no NULL text.
- NULL ``user_id`` in sessionization / per-user windows: NULL is its own
  group in GROUP BY on both engines, but window PARTITION BY + ordering
  and count(DISTINCT) treat it differently across plans.
- NULL ``value`` in cent-quantized sums: SUM skips NULLs on both
  engines, but AVG/count interplay and COALESCE boundaries can drift.
- NULL ``embedding`` arrays in the ANN family: the Arrow matmul path
  (``np.stack`` over a batch) crashes on a None row unless filtered
  JVM-side; quantize/norm expressions must agree on NULL propagation.
- NULL ``lang``/``source`` grouping keys in the docs family: NULL forms
  its own GROUP BY group on both engines, but stratified sampling,
  interleaving, and per-source dup rates route the key through window
  PARTITION BY and joins where NULL semantics differ.

Each sweep feeds a 10%-NULL synthetic table (full production schema) to
every oracle-bearing query of the family that reads ONLY that table and
requires exact engine/oracle parity. Divergences found get fixed on BOTH
sides, and the fixed query's own oracle rows re-prove it in
``tests/test_oracle_parity.py`` and ``tools/verify_gate.py``.
"""

from __future__ import annotations

import os
import re

import pytest

from neo4j_enterprise_spark.plans import all_queries

QUERIES = all_queries()
_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _refs(oracle: str) -> set[str]:
    return {t for t in _TABLES if re.search(rf"\b{t}\b", oracle, re.I)}


DOCS_ONLY = sorted(
    n
    for n, q in QUERIES.items()
    if q.oracle is not None and _refs(q.oracle) == {"documents"}
)
EVENTS_USER = sorted(
    n
    for n, q in QUERIES.items()
    if q.oracle is not None
    and "stream" not in n
    and _refs(q.oracle) == {"events"}
    and re.search(r"\buser_id\b", q.oracle)
)
EMB_ONLY = sorted(
    n
    for n, q in QUERIES.items()
    if q.oracle is not None and _refs(q.oracle) == {"embeddings"}
)
DOCS_LANG_SOURCE = sorted(
    n
    for n, q in QUERIES.items()
    if q.oracle is not None
    and _refs(q.oracle) == {"documents"}
    and re.search(r"\blang\b|\bsource\b", q.oracle)
)
EVENTS_VALUE = sorted(
    n
    for n, q in QUERIES.items()
    if q.oracle is not None
    and "stream" not in n
    and _refs(q.oracle) == {"events"}
    and re.search(r"\bvalue\b", q.oracle)
)

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join filter group order limit select from where "
    "shuffle broadcast codegen arrow pandas column schema null empty "
    # the BM25/tf-idf/phrase queries search for these exact terms; without
    # them in the vocab those queries return 0 rows and pass VACUOUSLY
    "dup vector stream table scan"
).split()


@pytest.fixture(scope="module")
def null_docs_dir(spark, tmp_path_factory):
    """500 docs: 10% NULL text, 5% empty, 5% whitespace-only, the rest
    deterministic word salads in the shipped-testdata style."""
    rows = []
    for i in range(500):
        if i % 10 == 0:
            text = None
        elif i % 20 == 5:
            text = ""
        elif i % 20 == 15:
            text = "   "
        else:
            n = 8 + (i * 7) % 40
            text = " ".join(_WORDS[(i * 13 + j * j) % len(_WORDS)] for j in range(n))
        rows.append(
            (
                i,
                text,
                ("en", "de", "fr")[i % 3],
                f"src{i % 4}",
                None if text is None else len(text),
            )
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert df.filter("text IS NULL").count() == 50
    out = str(tmp_path_factory.mktemp("null_docs"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


@pytest.mark.parametrize("name", DOCS_ONLY)
def test_null_text_parity(oracle_parity, null_docs_dir, name):
    oracle_parity(QUERIES[name], null_docs_dir, ("documents",))


@pytest.fixture(scope="module")
def null_emb_dir(spark, tmp_path_factory):
    """300 vectors: 10% NULL embedding, a few zero vectors, labels with
    10% NULL — the ANN family's Arrow matmuls (np.stack over a batch)
    must never see a None row."""
    import math

    rows = []
    for i in range(300):
        if i % 10 == 0:
            vec = None
        elif i % 30 == 5:
            vec = [0.0] * 64
        else:
            vec = [math.sin(0.1 * i * (j + 1)) for j in range(64)]
        rows.append((i, vec, None if i % 10 == 3 else i % 5))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    assert df.filter("embedding IS NULL").count() == 30
    out = str(tmp_path_factory.mktemp("null_emb"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


@pytest.mark.parametrize("name", EVENTS_USER)
def test_null_user_id_parity(oracle_parity, null_events, name):
    oracle_parity(QUERIES[name], null_events("user_id"), ("events",))


@pytest.mark.parametrize("name", EMB_ONLY)
def test_null_embedding_parity(oracle_parity, null_emb_dir, name):
    oracle_parity(QUERIES[name], null_emb_dir, ("embeddings",))


@pytest.fixture(scope="module")
def invalid_emb_dir(spark, tmp_path_factory):
    """Wave 3: vectors that are PRESENT but invalid — NaN / ±Inf
    components (crash the quantize cast on BOTH engines), ragged
    lengths (crash the Arrow ``np.array`` batch), NULL components —
    on top of wave 2's NULL rows, zero vectors, and NULL labels.
    Search/index ops must drop them all at entry
    (``similarity.drop_invalid_embeddings``); aggregate ops drop only
    the non-finite class and keep NULL + ragged rows."""
    import math

    rows = []
    for i in range(300):
        vec = [math.sin(0.1 * i * (j + 1)) for j in range(64)]
        if i % 10 == 0:
            vec = None
        elif i % 30 == 5:
            vec = [0.0] * 64
        elif i % 25 == 21:
            vec = vec[:32]  # ragged short
        elif i % 25 == 22:
            vec = vec + [0.25]  # ragged long (65)
        elif i % 30 == 17:
            vec[3] = float("nan")
        elif i % 30 == 27:
            vec[5] = float("inf")
        elif i % 30 == 11:
            vec[7] = None  # NULL component
        elif i % 30 == 23:
            vec[9] = float("-inf")
        rows.append((i, vec, None if i % 10 == 3 else i % 5))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for pred, lo in [
        ("embedding IS NULL", 25),
        ("size(embedding) <> 64", 15),
        ("exists(embedding, x -> isnan(x))", 5),
        ("exists(embedding, x -> abs(x) = double('Infinity'))", 10),
        ("exists(embedding, x -> x IS NULL)", 5),
    ]:
        assert df.filter(pred).count() >= lo, pred
    out = str(tmp_path_factory.mktemp("invalid_emb"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


@pytest.mark.parametrize("name", EMB_ONLY)
def test_invalid_embedding_parity(oracle_parity, invalid_emb_dir, name):
    oracle_parity(QUERIES[name], invalid_emb_dir, ("embeddings",))


@pytest.mark.parametrize("name", DOCS_LANG_SOURCE)
def test_null_lang_source_parity(oracle_parity, null_docs_lang_dir, name):
    oracle_parity(QUERIES[name], null_docs_lang_dir, ("documents",))


@pytest.fixture(scope="module")
def null_docs_lang_dir(spark, tmp_path_factory):
    """Docs with NULL lang / NULL source (text all present): NULL
    grouping keys form their own group on both engines, but stratified
    sampling, interleaving, and per-source rates route them through
    window PARTITION BY and join keys where engines can drift."""
    rows = []
    for i in range(400):
        n = 8 + (i * 7) % 40
        text = " ".join(_WORDS[(i * 13 + j * j) % len(_WORDS)] for j in range(n))
        lang = None if i % 10 == 0 else ("en", "de", "fr")[i % 3]
        source = None if i % 10 == 7 else f"src{i % 4}"
        rows.append((i, text, lang, source, len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path_factory.mktemp("null_docs_lang"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


@pytest.mark.parametrize("name", EVENTS_VALUE)
def test_null_value_parity(oracle_parity, null_events, name):
    oracle_parity(QUERIES[name], null_events("value"), ("events",))
