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

import datetime
import json
import os
import re

import duckdb
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


def _events_rows(null_col: str):
    base = datetime.datetime(2024, 1, 1, 0, 7, 0)
    rows = []
    for i in range(200):
        user = None if (null_col == "user_id" and i % 10 == 0) else i % 11
        value = None if (null_col == "value" and i % 10 == 3) else float(i) / 7.0
        rows.append(
            (
                i,
                base + datetime.timedelta(minutes=3 * i),
                user,
                "click" if i % 3 else "view",
                value,
                json.dumps({"k": i % 5, "s": f"x{i % 3}"}),
            )
        )
    return rows


def _write_events(spark, tmp_path_factory, null_col: str) -> str:
    df = spark.createDataFrame(
        _events_rows(null_col),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    assert df.filter(f"{null_col} IS NULL").count() == 20
    out = str(tmp_path_factory.mktemp(f"null_{null_col}"))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    return out


@pytest.fixture(scope="module")
def null_user_dir(spark, tmp_path_factory):
    return _write_events(spark, tmp_path_factory, "user_id")


@pytest.fixture(scope="module")
def null_value_dir(spark, tmp_path_factory):
    return _write_events(spark, tmp_path_factory, "value")


def _norm(rows):
    return sorted(tuple((x is None, str(x)) for x in r) for r in rows)


def _assert_parity(spark, q, data_dir: str, table: str, name: str):
    s_rows = [tuple(r) for r in q.spark(spark, data_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
        f"'{data_dir}/{table}.parquet/*.parquet')"
    )
    d_rows = [tuple(r) for r in con.execute(q.oracle).fetchall()]
    con.close()
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)} rows"
    assert _norm(s_rows) == _norm(d_rows), f"{name}: value divergence"


@pytest.mark.parametrize("name", DOCS_ONLY)
def test_null_text_parity(spark, null_docs_dir, name):
    _assert_parity(spark, QUERIES[name], null_docs_dir, "documents", name)


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
def test_null_user_id_parity(spark, null_user_dir, name):
    _assert_parity(spark, QUERIES[name], null_user_dir, "events", name)


@pytest.mark.parametrize("name", EMB_ONLY)
def test_null_embedding_parity(spark, null_emb_dir, name):
    _assert_parity(spark, QUERIES[name], null_emb_dir, "embeddings", name)


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
def test_invalid_embedding_parity(spark, invalid_emb_dir, name):
    _assert_parity(spark, QUERIES[name], invalid_emb_dir, "embeddings", name)


@pytest.mark.parametrize("name", DOCS_LANG_SOURCE)
def test_null_lang_source_parity(spark, null_docs_lang_dir, name):
    _assert_parity(spark, QUERIES[name], null_docs_lang_dir, "documents", name)


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
def test_null_value_parity(spark, null_value_dir, name):
    _assert_parity(spark, QUERIES[name], null_value_dir, "events", name)
