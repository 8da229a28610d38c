"""Pattern matching: Cypher-ish fixed-length path patterns compiled to
joins.

The reference has no Cypher in-repo, but its traversal surface
(`LockableNode.java:178-201`) plus the HA test workloads are path
navigations; SURVEY §4 notes a pattern DSL compiles to joins with no
custom Catalyst work. ``match_path`` is that compiler: a list of
(rel_type, direction) steps becomes a chain of equi-joins, one join per
hop, each keyed on the node id — co-partitioned on a bucketed layout.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# "(var[:kind] [{key: val, ...}])" node; "-[:TYPE]->" / "<-[:TYPE]-"
# edge, with optional "*lo..hi" variable-length quantifier and optional
# type: "-[*1..2]->"
_NODE_RE = re.compile(r"\(\s*(\w+)?\s*(?::\s*(\w+))?\s*(?:\{([^}]*)\})?\s*\)")
_EDGE_RE = re.compile(
    r"(<?)-\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*"
    r"(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]-(>?)"
)
_PROP_RE = re.compile(r"(\w+)\s*:\s*('[^']*'|\"[^\"]*\"|[\w.+-]+)")


def _parse_props(body: str | None) -> dict[str, object]:
    """Parse a Cypher inline property map body into literal values."""
    if not body or not body.strip():
        return {}
    props: dict[str, object] = {}
    matched = _PROP_RE.findall(body)
    if not matched:
        raise ValueError(f"bad property map: {{{body}}}")
    for key, raw in matched:
        if raw[0] in "'\"":
            props[key] = raw[1:-1]
        elif raw in ("true", "false"):
            props[key] = raw == "true"
        else:
            props[key] = float(raw) if "." in raw else int(raw)
    return props


def match_path(
    nodes: DataFrame,
    rels: DataFrame,
    steps: Sequence[tuple[str, str]],
    start_filter=None,
    rel_vars: Sequence[str | None] | None = None,
) -> DataFrame:
    """Match a fixed-length path pattern.

    ``steps``: [(type_name, 'out'|'in'), ...] for single hops, or
    (type_name | None, direction, lo, hi) for a variable-length segment
    (type None = any type). Returns one row per bound path with columns
    n0, n1, ... nK (node ids along the path).
    ``start_filter``: optional Column predicate on the start node.

    Variable-length semantics: a segment binds the DISTINCT endpoint
    pairs connected by some walk of lo..hi hops — intermediate nodes are
    not bound (as in Cypher) and multiple walks between the same pair
    collapse to one row (reachability semantics; per-level DISTINCT
    keeps the frontier bounded on cyclic graphs, the same contract as
    ``traversal.bfs_reachable``).

    Example — (customer)-[:PLACED]->(o)-[:CONTAINS]->(p):
        match_path(nodes, rels, [("PLACED", "out"), ("CONTAINS", "out")])
    """
    # An unfiltered start never joins the node store: the first edge
    # segment BINDS n0 by itself, and endpoint closure (every src/dst
    # exists in nodes) is a store invariant the checker family verifies
    # separately (endpoints_not_in_use / check_fixture_relationships) —
    # exactly the assumption the reference's traversal makes
    # (RelationshipStore resolves endpoints without consulting the node
    # store). Joining all N node ids in front of the first hop was the
    # r9 sf10 finding: at 18.6M derived nodes it DOUBLED
    # cypher_with_having's wall for a constant-true existence check.
    # CORRECTNESS CONTRACT: on a store that VIOLATES endpoint closure
    # (dangling src/dst, duplicate node ids) the skipped join changes
    # results — dangling paths are kept and duplicate ids no longer fan
    # out — instead of silently dropping rows. Debug runs can assert the
    # invariant eagerly: SPARK_GRAFT_DEBUG_INVARIANTS=1 makes every
    # unfiltered-start compile verify closure and raise on violation
    # (tests/test_pattern.py::test_unfiltered_start_invariant_debug).
    if (
        start_filter is None
        and steps
        and os.environ.get("SPARK_GRAFT_DEBUG_INVARIANTS")
    ):
        ids = nodes.select("id")
        dangling = (
            rels.select(F.col("src").alias("id"))
            .unionByName(rels.select(F.col("dst").alias("id")))
            .join(ids, "id", "left_anti")
            .limit(1)
            .count()
        )
        dup = (
            ids.groupBy("id").count().filter(F.col("count") > 1).limit(1).count()
        )
        if dangling or dup:
            raise ValueError(
                "endpoint-closure invariant violated "
                f"(dangling={bool(dangling)}, duplicate_ids={bool(dup)}): "
                "an unfiltered pattern start relies on it; run "
                "endpoints_not_in_use / check_fixture_relationships to locate"
            )
    out = (
        nodes.filter(start_filter).select(F.col("id").alias("n0"))
        if start_filter is not None
        else nodes.select(F.col("id").alias("n0")) if not steps else None
    )
    for i, step in enumerate(steps):
        type_name, direction = step[0], step[1]
        lo, hi = (step[2], step[3]) if len(step) > 2 else (1, 1)
        rel_var = rel_vars[i] if rel_vars else None
        if type_name is None:
            e = rels
        else:
            # Cypher type alternation [:A|B] — one IN-list filter, still
            # a single scan of the relationship store
            names = [t.strip() for t in type_name.split("|")]
            e = rels.filter(
                F.col("type_name") == names[0]
                if len(names) == 1
                else F.col("type_name").isin(names)
            )
        if direction == "out":
            edge = e.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
        else:
            edge = e.select(F.col("dst").alias("__a"), F.col("src").alias("__b"))
        if rel_var is not None:
            # bind the relationship id as a column (Cypher rel variable);
            # a var on a quantified segment would bind a LIST — not wired
            if (lo, hi) != (1, 1):
                raise ValueError(
                    f"rel variable {rel_var!r} on a *{lo}..{hi} segment "
                    "is unsupported (it binds a path list in Cypher)"
                )
            edge = e.select(
                F.col("src" if direction == "out" else "dst").alias("__a"),
                F.col("dst" if direction == "out" else "src").alias("__b"),
                F.col("id").alias(rel_var),
            )
            seg = edge
        elif (lo, hi) == (1, 1):
            seg = edge
        else:
            if not 1 <= lo <= hi:
                raise ValueError(f"bad quantifier *{lo}..{hi}")
            level = edge.distinct()
            acc = level if lo <= 1 else None
            for k in range(2, hi + 1):
                hop = edge.select(
                    F.col("__a").alias("__b"), F.col("__b").alias("__c")
                )
                level = (
                    level.join(hop, "__b")
                    .select("__a", F.col("__c").alias("__b"))
                    .distinct()
                )
                if k >= lo:
                    acc = level if acc is None else acc.unionByName(level)
            seg = acc.distinct()
        extra = [rel_var] if rel_var is not None else []
        bound = seg.select(
            F.col("__a").alias(f"n{i}"),
            F.col("__b").alias(f"n{i + 1}"),
            *extra,
        )
        out = bound if out is None else out.join(bound, f"n{i}")
    return out


def cypher_match(
    nodes: DataFrame,
    rels: DataFrame,
    pattern: str,
    attach: dict[str, list[str]] | None = None,
    defer_kinds: set[str] | None = None,
) -> DataFrame:
    """Cypher-ish MATCH for fixed-length patterns, compiled to joins.

    Supported grammar (a deliberate subset — enough for the reference's
    navigation workloads; SURVEY §4: a pattern DSL compiles to joins
    with no custom Catalyst rules)::

        (a:customer)-[:PLACED]->(o)-[:CONTAINS]->(p:part)
        (n:nation)<-[:IN_NATION]-(c)
        (c:customer)-[*1..2]->(x)          # variable length, any type
        (s)-[:SUPP_NATION*1..1]->(n)       # variable length, typed
        (r:region {name: 'ASIA'})<-[:IN_REGION]-(n)   # property map

    Each ``(var[:kind])`` binds a column ``var`` = node id in the output;
    ``:kind`` adds an equality filter against ``nodes.kind``, and an
    inline ``{key: literal, ...}`` map filters on the matching node
    columns (string/number/bool literals, Cypher property-map
    semantics). Direction follows the arrow. Returns one row per bound
    path; variable-length segments bind distinct endpoint pairs (see
    ``match_path``).

    ``attach`` is the RETURN-projection analog: ``{"var": ["name", ...]}``
    joins the listed node columns back onto the path as ``var_name``
    etc. — one id-keyed join per attached var (co-partitioned on a
    bucketed node layout).
    """
    pos = 0
    m = _NODE_RE.match(pattern, pos)
    if not m:
        raise ValueError(f"pattern must start with a node: {pattern!r}")
    vars_: list[tuple[str, str | None, dict[str, object]]] = [
        (m.group(1) or "n0", m.group(2), _parse_props(m.group(3)))
    ]
    steps: list[tuple[str, str]] = []
    rel_vars: list[str | None] = []
    pos = m.end()
    while pos < len(pattern):
        em = _EDGE_RE.match(pattern, pos)
        if not em:
            if pattern[pos:].strip() == "":
                break
            raise ValueError(f"expected edge at: {pattern[pos:]!r}")
        left, rel_var, type_name, lo, hi, right = em.groups()
        if left == "<" and right != ">":
            direction = "in"
        elif right == ">" and left != "<":
            direction = "out"
        else:
            raise ValueError(f"edge needs exactly one arrow: {em.group(0)!r}")
        if type_name is None and lo is None and rel_var is None:
            raise ValueError(f"edge needs a var, type or quantifier: {em.group(0)!r}")
        pos = em.end()
        nm = _NODE_RE.match(pattern, pos)
        if not nm:
            raise ValueError(f"expected node at: {pattern[pos:]!r}")
        vars_.append((nm.group(1) or f"n{len(vars_)}", nm.group(2), _parse_props(nm.group(3))))
        if lo is None:
            steps.append((type_name, direction))
        else:
            steps.append((type_name, direction, int(lo), int(hi)))
        rel_vars.append(rel_var)
        pos = nm.end()

    out = match_path(nodes, rels, steps, rel_vars=rel_vars)
    for i, (var, _, _) in enumerate(vars_):
        out = out.withColumnRenamed(f"n{i}", var)
    for var, kind, props in vars_:
        if kind is None and not props:
            continue
        if defer_kinds and var in defer_kinds and not props:
            # the caller applies this kind-only semi AFTER its
            # aggregation (the var is a grouping key there, so the semi
            # commutes with the aggregate — see the cypher_query stage
            # pipeline); skipping it here keeps the full match frame
            # from being sort-merge-joined against the node store
            continue
        cond = F.lit(True)
        if kind is not None:
            cond = cond & (F.col("kind") == kind)
        for key, val in props.items():
            if key not in nodes.columns:
                raise ValueError(f"unknown node property {key!r} in {{...}} for ({var})")
            cond = cond & (F.col(key) == F.lit(val))
        bound = nodes.filter(cond).select(F.col("id").alias(var))
        if props:
            # literal-valued property maps are selective → broadcast the
            # bound set; kind-only filters can be huge, leave those to
            # Catalyst/AQE join selection
            bound = F.broadcast(bound)
        out = out.join(bound, var, "left_semi")
    known = {var for var, _, _ in vars_}
    for var, cols in (attach or {}).items():
        if var not in known:
            raise ValueError(f"attach: {var!r} is not bound by the pattern")
        missing = [c for c in cols if c not in nodes.columns]
        if missing:
            raise ValueError(f"attach: unknown node columns {missing}")
        proj = nodes.select(
            F.col("id").alias(var), *[F.col(c).alias(f"{var}_{c}") for c in cols]
        )
        out = out.join(proj, var)
    return out


# STARTS WITH / ENDS WITH are matched BEFORE the bare WITH alternative so
# the WITH inside a string predicate never splits a clause; the pair-builder
# below re-merges them into the preceding clause body.
_KW_SPLIT_RE = re.compile(
    r"\b(OPTIONAL\s+MATCH|MATCH|WHERE|STARTS\s+WITH|ENDS\s+WITH|WITH|UNWIND|"
    r"SET|RETURN|ORDER\s+BY|SKIP|LIMIT)\b",
    re.I,
)
_UNION_RE = re.compile(r"\bUNION(\s+ALL)?\b", re.I)
_OR_RE = re.compile(r"\bOR\b", re.I)
_AND_RE = re.compile(r"\bAND\b", re.I)


def _quoted_spans(text: str) -> list[tuple[int, int]]:
    """[start, end) spans of single/double-quoted string literals."""
    spans = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            j = text.find(ch, i + 1)
            if j == -1:
                break  # unterminated — rest is literal text
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _split_outside(pattern: re.Pattern, text: str) -> list:
    """``re.split`` twin that ignores keyword matches inside quoted
    string literals, so ``WHERE c.name = 'A OR B'`` never mis-splits
    (same return shape: segments interleaved with capture groups when
    the pattern has any)."""
    spans = _quoted_spans(text)

    def quoted(a: int, b: int) -> bool:
        return any(a >= s and b <= e for s, e in spans)

    parts: list = []
    last = 0
    for m in pattern.finditer(text):
        if quoted(m.start(), m.end()):
            continue
        parts.append(text[last : m.start()])
        if pattern.groups:
            parts.extend(m.groups())
        last = m.end()
    parts.append(text[last:])
    return parts


_COND_RE = re.compile(
    r"^(\w+)(?:\.(\w+))?\s*"
    r"(STARTS\s+WITH|ENDS\s+WITH|CONTAINS|<>|<=|>=|=|<|>)\s*"
    r"('[^']*'|\"[^\"]*\"|[\w.+-]+)$",
    re.I,
)
_AGG_RE = re.compile(
    r"^(count|sum|min|max|avg|collect)\s*\(\s*(\*|(?:DISTINCT\s+)?\w+(?:\.\w+)?)\s*\)$",
    re.I,
)
_AS_RE = re.compile(r"^(.*?)\s+AS\s+(\w+)$", re.I | re.S)
_LENGTH_RE = re.compile(r"^length\(\s*(\w+)\s*\)$", re.I)
_SHORTEST_RE = re.compile(r"^(\w+)\s*=\s*shortestPath\s*\(\s*(\(.*\))\s*\)\s*$", re.I | re.S)


def _parse_literal(raw: str):
    if raw[0] in "'\"":
        return raw[1:-1]
    if raw in ("true", "false"):
        return raw == "true"
    return float(raw) if "." in raw else int(raw)


_EXISTS_RE = re.compile(
    r"^(NOT\s+)?EXISTS\s*\(\s*\(\s*(\w+)\s*\)\s*"
    r"(<?)-\[\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*\]-(>?)\s*\(\s*\)\s*\)$",
    re.I,
)


def _parse_conds(body: str):
    # top-level OR → disjunctive normal form: each OR branch is its own
    # conjunction list, carried as one ("__or__", branches, None, None)
    # cond so the whole disjunction compiles to a single Column filter
    # (Catalyst still pushes it into the scan). EXISTS inside OR is not
    # wired — it compiles to a join, not a Column.
    branches = _split_outside(_OR_RE, body)
    if len(branches) > 1:

        def unwrap(s: str) -> str:
            # strip ONE outer paren pair only when it wraps the whole
            # branch (never parens that belong to an inner pattern)
            s = s.strip()
            if s.startswith("(") and s.endswith(")"):
                depth = 0
                for i, ch in enumerate(s):
                    depth += (ch == "(") - (ch == ")")
                    if depth == 0 and i < len(s) - 1:
                        return s  # outer parens close early — keep
                return s[1:-1].strip()
            return s

        parsed = [_parse_conds(unwrap(b)) for b in branches]
        for br in parsed:
            if any(c[0] == "__exists__" for c in br):
                raise ValueError(f"EXISTS inside OR unsupported: {body!r}")
        return [("__or__", parsed, None, None)]
    conds = []
    for one in _split_outside(_AND_RE, body):
        one = one.strip()
        em = _EXISTS_RE.match(one)
        if em:
            neg, var, left, types, right = em.groups()
            if (left == "<") == (right == ">"):
                raise ValueError(f"EXISTS edge needs exactly one arrow: {one!r}")
            direction = "in" if left == "<" else "out"
            conds.append(
                ("__exists__", var, (direction, types, bool(neg)), None)
            )
            continue
        m = _COND_RE.match(one)
        if not m:
            raise ValueError(f"unsupported WHERE condition: {one!r}")
        conds.append((m.group(1), m.group(2), m.group(3), _parse_literal(m.group(4))))
    return conds


def _apply_exists(out: DataFrame, rels: DataFrame, conds) -> DataFrame:
    """Compile ``[NOT] EXISTS((v)-[:T]->())`` predicates: a left-semi
    (anti for NOT) join of the bound rows against the typed edge
    endpoints — the Cypher pattern predicate as a set-membership join,
    never a per-row subquery."""
    for kind, var, spec, _ in conds:
        if kind != "__exists__":
            continue
        direction, types, neg = spec
        edges = rels
        if types:
            names = [t.strip() for t in types.split("|")]
            edges = edges.filter(
                F.col("type_name") == names[0]
                if len(names) == 1
                else F.col("type_name").isin(names)
            )
        endpoint = "src" if direction == "out" else "dst"
        bound = edges.select(F.col(endpoint).alias(var)).distinct()
        out = out.join(bound, var, "left_anti" if neg else "left_semi")
    return out


_CASE_RE = re.compile(r"^CASE\s+(.*?)\s+END$", re.I | re.S)
_WHEN_RE = re.compile(
    r"WHEN\s+(.+?)\s+THEN\s+('[^']*'|\"[^\"]*\"|[\w.+-]+)", re.I | re.S
)
_ELSE_RE = re.compile(r"ELSE\s+('[^']*'|\"[^\"]*\"|[\w.+-]+)\s*$", re.I)


def _cond_refs(conds):
    """(var, prop) pairs referenced by a cond list, walking OR groups."""
    refs = []
    for var, prop, _, _ in conds:
        if var == "__or__":
            for branch in prop:
                refs.extend(_cond_refs(branch))
        elif prop:
            refs.append((var, prop))
    return refs


def _conds_col(out: DataFrame, conds):
    """One Column for a cond list: AND across items, OR groups expand
    to a disjunction of their branch conjunctions."""
    col = None
    for var, prop, op, lit in conds:
        if var == "__or__":
            c = None
            for branch in prop:
                bc = _conds_col(out, branch)
                c = bc if c is None else (c | bc)
        else:
            c = _cond_col(out, var, prop, op, lit)
        col = c if col is None else (col & c)
    return col


def _cond_col(out: DataFrame, var, prop, op, lit):
    """One parsed condition as a Column against ``out``'s schema."""
    methods = {"=": "__eq__", "<>": "__ne__", "<": "__lt__", "<=": "__le__",
               ">": "__gt__", ">=": "__ge__", "STARTS WITH": "startswith",
               "ENDS WITH": "endswith", "CONTAINS": "contains"}
    name = f"{var}_{prop}" if prop else var
    if prop and name not in out.columns and var in out.columns:
        name = var
    opn = re.sub(r"\s+", " ", op.upper())
    return getattr(F.col(name), methods[opn])(F.lit(lit))


def _parse_case(body: str):
    """Parse ``CASE WHEN cond THEN lit [WHEN ...]* [ELSE lit] END`` into
    (builder, prop_refs): builder(df) -> Column, prop_refs = [(var, prop)]
    so the caller can attach the referenced node properties."""
    m = _CASE_RE.match(body.strip())
    if not m:
        return None
    inner = m.group(1)
    whens = _WHEN_RE.findall(inner)
    if not whens:
        raise ValueError(f"CASE needs at least one WHEN: {body!r}")
    em = _ELSE_RE.search(inner)
    parsed = [(_parse_conds(c), _parse_literal(v)) for c, v in whens]
    else_val = _parse_literal(em.group(1)) if em else None
    refs = [ref for conds, _ in parsed for ref in _cond_refs(conds)]

    def build(out: DataFrame):
        col = None
        for conds, val in parsed:
            cond = _conds_col(out, conds)
            col = (
                F.when(cond, F.lit(val))
                if col is None
                else col.when(cond, F.lit(val))
            )
        return col.otherwise(F.lit(else_val)) if else_val is not None else col

    return build, refs


def _split_items(body: str) -> list[str]:
    """Split an item list on top-level commas, keeping CASE ... END and
    parenthesized aggregate bodies intact."""
    out: list[str] = []
    cur: list[str] = []
    for piece in body.split(","):
        cur.append(piece)
        s = ",".join(cur)
        case_depth = len(re.findall(r"\bCASE\b", s, re.I)) - len(
            re.findall(r"\bEND\b", s, re.I)
        )
        if case_depth == 0 and s.count("(") == s.count(")"):
            out.append(s)
            cur = []
    if cur:
        out.append(",".join(cur))
    return out


def _parse_items(body: str):
    """Parse a WITH / RETURN item list → (items, distinct_flag). Items:
    (kind, var, prop, distinct, alias) with kind in {plain, agg:<fn>}."""
    distinct_flag = False
    if re.match(r"^DISTINCT\s", body, re.I):
        distinct_flag = True
        body = re.sub(r"^DISTINCT\s+", "", body, flags=re.I)
    items = []
    for one in _split_items(body):
        one = one.strip()
        alias = None
        am = _AS_RE.match(one)
        if am:
            one, alias = am.group(1).strip(), am.group(2)
        cm = re.match(
            r"^(count|sum|min|max|avg)\s*\(\s*(CASE\s.*END)\s*\)$", one, re.I | re.S
        )
        if cm:
            built = _parse_case(cm.group(2))
            if built is None:
                raise ValueError(f"bad CASE expression: {cm.group(2)!r}")
            items.append(
                (f"aggcase:{cm.group(1).lower()}", built[0], built[1], False,
                 alias or cm.group(1).lower())
            )
            continue
        case = _parse_case(one)
        if case is not None:
            items.append(("case", case[0], case[1], False, alias or "case"))
            continue
        gm = _AGG_RE.match(one)
        if gm:
            fn = gm.group(1).lower()
            arg = gm.group(2)
            distinct = bool(re.match(r"DISTINCT\s", arg, re.I))
            arg = re.sub(r"^DISTINCT\s+", "", arg, flags=re.I)
            var, prop = (arg.split(".") + [None])[:2] if arg != "*" else (None, None)
            items.append((f"agg:{fn}", var, prop, distinct, alias or fn))
        else:
            im = re.match(r"^id\(\s*(\w+)\s*\)$", one, re.I)
            if im:
                # id(n): the bound column IS the node id
                items.append(("plain", im.group(1), None, False,
                              alias or f"id_{im.group(1)}"))
                continue
            lb = re.match(r"^labels\(\s*(\w+)\s*\)$", one, re.I)
            if lb:
                # labels(n): single-label store → the kind column
                items.append(("plain", lb.group(1), "kind", False,
                              alias or f"labels_{lb.group(1)}"))
                continue
            lm = _LENGTH_RE.match(one)
            if lm:
                # length(p) over a shortestPath-bound variable: the path
                # var IS its hop count relationally, so this is a plain
                # projection of that column
                var = lm.group(1)
                items.append(("plain", var, None, False, alias or f"length_{var}"))
                continue
            pm = re.match(r"^(\w+)(?:\.(\w+))?$", one)
            if not pm:
                raise ValueError(f"unsupported projection item: {one!r}")
            var, prop = pm.group(1), pm.group(2)
            default = f"{var}_{prop}" if prop else var
            items.append(("plain", var, prop, False, alias or default))
    return items, distinct_flag


def _apply_conds(out: DataFrame, conds) -> DataFrame:
    methods = {"=": "__eq__", "<>": "__ne__", "<": "__lt__", "<=": "__le__",
               ">": "__gt__", ">=": "__ge__", "STARTS WITH": "startswith",
               "ENDS WITH": "endswith", "CONTAINS": "contains"}
    for var, prop, op, lit in conds:
        if var == "__or__":
            out = out.filter(_conds_col(out, [(var, prop, op, lit)]))
            continue
        name = f"{var}_{prop}" if prop else var
        if prop and name not in out.columns and var in out.columns:
            # carried scalar aliased like a var — fall through to var
            name = var
        col = F.col(name)
        opn = re.sub(r"\s+", " ", op.upper())
        out = out.filter(getattr(col, methods[opn])(F.lit(lit)))
    return out


# Aggregates that merge losslessly across a finer grouping: grouping by
# the node ID first and re-aggregating after the property attach gives
# bit-identical results for these (count partials SUM; min/max are
# associative for every type; sum is associative for integral/decimal
# inputs ONLY — FP addition is order-dependent, so a DOUBLE/FLOAT sum is
# blocked in ``_deferrable_attach_vars`` rather than merged). avg /
# DISTINCT / collect are NOT mergeable this way and disable the rewrite.
_MERGE_FNS = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}

# Spark typeName()s whose sum is exactly associative (wrap-around aside,
# which both the direct and deferred forms share): integral + decimal.
_EXACT_SUM_TYPES = {"byte", "short", "integer", "long", "decimal"}


def _sum_input_is_exact(var, prop, nodes, carried) -> bool:
    """True iff the resolved input column of ``sum(var.prop)`` (or
    ``sum(var)`` for a carried scalar) has an integral/decimal type.
    Unknown / unresolvable types return False — conservatively treated
    as float, which disables the deferred-attach rewrite for the stage.
    """
    dt = None
    if prop is not None:
        if nodes is not None and prop in nodes.columns:
            dt = nodes.schema[prop].dataType.typeName()
        elif carried is not None and f"{var}_{prop}" in carried.columns:
            dt = carried.schema[f"{var}_{prop}"].dataType.typeName()
    elif not callable(var) and carried is not None and var in carried.columns:
        dt = carried.schema[var].dataType.typeName()
    if dt is None:
        return False
    return dt.split("(")[0] in _EXACT_SUM_TYPES


def _deferrable_attach_vars(
    items, conds, exists_conds, set_list, opt_body, attach,
    nodes=None, carried=None,
) -> set[str]:
    """Vars whose property attach can move PAST the aggregation.

    At sf10, ``RETURN n.name, count(*)`` attached ``name`` onto the
    full match frame — an id-keyed join of millions of path rows
    against the entire node store — when grouping by the node ID first
    shrinks the frame to the group count, the
    attach join becomes a broadcast of the aggregated side, and a
    trivial re-aggregate by the property merges id-groups that share a
    property value. Safe only when (a) every aggregate is mergeable
    (``_MERGE_FNS``, non-DISTINCT, no CASE forms), and (b) the var's
    properties are referenced ONLY as plain projection keys — a WHERE /
    EXISTS / SET / aggregate reference needs the column pre-aggregation,
    and a var bound by OPTIONAL MATCH can carry a NULL id that the
    post-agg inner attach would drop.
    """
    if not items:
        return set()
    aggs = [it for it in items if it[0] not in ("plain", "case")]
    if not aggs or any(it[0] == "case" for it in items):
        return set()
    for kind, var, prop, distinct, _alias in aggs:
        if kind.startswith("aggcase:") or distinct:
            return set()
        fn = kind.split(":")[1]
        if fn not in _MERGE_FNS:
            return set()
        if fn == "sum" and not _sum_input_is_exact(var, prop, nodes, carried):
            # sum-of-partial-sums is only bit-identical to the direct
            # form for integral/decimal inputs; FP addition is not
            # associative, so a double/float (or unresolvable) input
            # disables the rewrite for the whole stage.
            return set()
    blocked: set[str] = set()
    for v, p in _cond_refs(conds):
        blocked.add(v)
    for _k, v, _spec, _neg in exists_conds:
        blocked.add(v)
    for v, _p, _val in set_list:
        blocked.add(v)
    for _kind, v, prop, _d, _a in aggs:
        if prop and not callable(v):
            blocked.add(v)
    if opt_body:
        for m in _NODE_RE.findall(opt_body):
            if m[0]:
                blocked.add(m[0])
    return set(attach) - blocked


def _deferrable_kind_semis(items, match_body, opt_body):
    """Kind-ONLY label semis on vars that survive as projection/group
    keys commute with the stage's projection (each group is homogeneous
    in the var, so dropping non-matching groups after the aggregate
    drops exactly the rows the pre-agg semi would have) — defer them
    past the aggregation so the full match frame is never
    sort-merge-joined against the node store (at sf10 that join
    dominated cypher_with_having). Returns
    ({var: kind}, {var: alias}); empty when the stage has no items, no
    match, or a shortestPath match (which applies labels internally).
    Vars bound by OPTIONAL MATCH are excluded — their NULL ids would be
    dropped by the post-agg inner semi.
    """
    if items is None or not match_body or _SHORTEST_RE.match(match_body):
        return {}, {}
    opt_vars = (
        {m[0] for m in _NODE_RE.findall(opt_body) if m[0]} if opt_body else set()
    )
    id_alias = {
        v: a
        for k, v, p, _, a in items
        if k == "plain" and p is None and not callable(v)
    }
    kind_defer: dict[str, str] = {}
    for var, kind, props in _NODE_RE.findall(match_body):
        if var and kind and not props and var in id_alias and var not in opt_vars:
            kind_defer[var] = kind
    return kind_defer, id_alias


def _project_items_deferred(
    nodes: DataFrame, out: DataFrame, items, distinct_flag: bool,
    defer: set[str], attach: dict[str, list[str]],
) -> DataFrame:
    """``_project_items`` with the attach-after-aggregate rewrite for
    ``defer`` vars: group by the node id, join the node properties onto
    the (small) aggregated frame, re-aggregate by the property keys
    with the merge functions. Output schema and values are identical
    to the direct form (see ``_deferrable_attach_vars``)."""
    items2 = []
    seen_ids: set[str] = set()
    for kind, var, prop, distinct, alias in items:
        if kind == "plain" and var in defer and prop is not None:
            if var not in seen_ids:
                items2.append(("plain", var, None, False, f"__id_{var}"))
                seen_ids.add(var)
            continue
        items2.append((kind, var, prop, distinct, alias))
    out = _project_items(out, items2, distinct_flag)
    for var in sorted(defer):
        proj = nodes.select(
            F.col("id").alias(f"__id_{var}"),
            *[F.col(p).alias(f"{var}_{p}") for p in attach[var]],
        )
        out = out.join(proj, f"__id_{var}")
    keys, agg_cols = [], []
    for kind, var, prop, distinct, alias in items:
        if kind == "plain":
            if var in defer and prop is not None:
                keys.append(F.col(f"{var}_{prop}").alias(alias))
            else:
                keys.append(F.col(alias))
        else:
            merge = _MERGE_FNS[kind.split(":")[1]]
            agg_cols.append(getattr(F, merge)(F.col(alias)).alias(alias))
    return out.groupBy(*keys).agg(*agg_cols)


def _project_items(out: DataFrame, items, distinct_flag: bool) -> DataFrame:
    """Compile a WITH / RETURN item list: plain items become grouping
    keys when aggregates are present, else a projection. ``collect()``
    compiles to ``sort_array(collect_list(...))`` — Cypher's collect()
    is unordered, the sorted rendering makes results deterministic (and
    SQL-oracle-comparable via DuckDB's ``list_sort(list(...))``)."""
    keys = [(v, p, a) for k, v, p, _, a in items if k == "plain"]
    case_keys = [(v, a) for k, v, p, _, a in items if k == "case"]
    aggs = [
        (k.split(":")[1], v, p, d, a)
        for k, v, p, d, a in items
        if k not in ("plain", "case")
    ]
    key_cols = []
    for v, p, a in keys:
        name = f"{v}_{p}" if p else v
        if p and name not in out.columns and v in out.columns:
            name = v
        key_cols.append(F.col(name).alias(a))
    for builder, a in case_keys:
        key_cols.append(builder(out).alias(a))
    if aggs:
        agg_cols = []
        for fn, var, prop, distinct, alias in aggs:
            if callable(var):
                # aggcase:<fn> — aggregate over a CASE expression (the
                # Cypher conditional-count/sum idiom)
                agg_cols.append(getattr(F, fn)(var(out)).alias(alias))
                continue
            if var is None:
                agg_cols.append(F.count(F.lit(1)).alias(alias))
                continue
            name = f"{var}_{prop}" if prop else var
            if prop and name not in out.columns and var in out.columns:
                name = var
            col = F.col(name)
            if fn == "count" and distinct:
                agg_cols.append(F.count_distinct(col).alias(alias))
            elif fn == "collect":
                if distinct:
                    agg_cols.append(
                        F.sort_array(F.collect_set(col)).alias(alias)
                    )
                else:
                    agg_cols.append(
                        F.sort_array(F.collect_list(col)).alias(alias)
                    )
            else:
                agg_cols.append(getattr(F, fn)(col).alias(alias))
        return out.groupBy(*key_cols).agg(*agg_cols) if key_cols else out.agg(*agg_cols)
    out = out.select(*key_cols)
    if distinct_flag:
        # DISTINCT — dedupe the projection (aggregated projections are
        # already grouped, so DISTINCT there is a no-op)
        out = out.distinct()
    return out


def _node_bound(nodes: DataFrame, var: str, kind: str | None, props: dict) -> DataFrame:
    """Node ids satisfying a ``(var:kind {props})`` spec, aliased to var."""
    cond = F.lit(True)
    if kind is not None:
        cond = cond & (F.col("kind") == kind)
    for key, val in props.items():
        if key not in nodes.columns:
            raise ValueError(f"unknown node property {key!r} for ({var})")
        cond = cond & (F.col(key) == F.lit(val))
    return nodes.filter(cond).select(F.col("id").alias(var))


def shortest_path_match(
    nodes: DataFrame,
    rels: DataFrame,
    path_var: str,
    inner: str,
    attach: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, set[str]]:
    """Compile ``p = shortestPath((a ...)-[:T*lo..hi]->(b ...))``.

    Cypher's shortestPath binds ONE minimal-length path per endpoint
    pair; its relational observable is the pair plus the minimal hop
    count, so the compiled plan returns columns (a, b, p) with
    ``p`` = min hops (`length(p)` projects it). Execution is the BFS
    frontier of ``traversal.bfs_reachable`` — per-source first-seen
    min via map-side-combinable groupBy-min, never an all-pairs join —
    seeded from the left spec, endpoint-filtered by the right spec
    (broadcast semi-join when the spec carries literal props).
    """
    m = _NODE_RE.match(inner)
    if not m:
        raise ValueError(f"shortestPath needs a node pattern: {inner!r}")
    a_var, a_kind, a_props = m.group(1) or "a", m.group(2), _parse_props(m.group(3))
    em = _EDGE_RE.match(inner, m.end())
    if not em or em.group(4) is None:
        raise ValueError(
            f"shortestPath needs one variable-length edge (*lo..hi): {inner!r}"
        )
    left, _rel_var, type_name, lo, hi, right = em.groups()
    direction = "in" if left == "<" and right != ">" else "out"
    if (left == "<") == (right == ">"):
        raise ValueError(f"edge needs exactly one arrow: {em.group(0)!r}")
    nm = _NODE_RE.match(inner, em.end())
    if not nm or inner[nm.end():].strip():
        raise ValueError(f"shortestPath takes a single segment: {inner!r}")
    b_var, b_kind, b_props = nm.group(1) or "b", nm.group(2), _parse_props(nm.group(3))
    lo, hi = int(lo), int(hi)
    if not 0 <= lo <= hi:
        raise ValueError(f"bad quantifier *{lo}..{hi}")

    from .traversal import bfs_reachable

    seeds = _node_bound(nodes, a_var, a_kind, a_props).select(
        F.col(a_var).alias("seed")
    )
    reach = bfs_reachable(
        rels,
        seeds,
        k=hi,
        direction=direction,
        types=[t.strip() for t in type_name.split("|")] if type_name else None,
        cache_edges=hi > 1,
    ).filter(F.col("hops") >= lo)
    out = reach.select(
        F.col("seed").alias(a_var),
        F.col("node_id").alias(b_var),
        F.col("hops").cast("int").alias(path_var),
    )
    if b_kind is not None or b_props:
        bound = _node_bound(nodes, b_var, b_kind, b_props)
        out = out.join(F.broadcast(bound) if b_props else bound, b_var, "left_semi")
    for var, cols in (attach or {}).items():
        if var not in (a_var, b_var):
            raise ValueError(f"attach: {var!r} is not bound by shortestPath")
        missing = [c for c in cols if c not in nodes.columns]
        if missing:
            raise ValueError(f"attach: unknown node columns {missing}")
        proj = nodes.select(
            F.col("id").alias(var), *[F.col(c).alias(f"{var}_{c}") for c in cols]
        )
        out = out.join(proj, var)
    return out, {a_var, b_var, path_var}


def _compile_stage(nodes, rels, match_body, opt_body, attach, defer_kinds=None):
    """Compile one MATCH [+ OPTIONAL MATCH] pattern group, attaching the
    requested var properties. OPTIONAL MATCH compiles to a LEFT OUTER
    join on the shared variables (Cypher semantics: unmatched rows keep
    NULL bindings; count(var) then skips them)."""
    main_vars = {m[0] for m in _NODE_RE.findall(match_body) if m[0]}
    attach_main = {v: ps for v, ps in attach.items() if v in main_vars}
    attach_opt = {}
    if opt_body:
        opt_vars = {m[0] for m in _NODE_RE.findall(opt_body) if m[0]}
        attach_opt = {
            v: ps for v, ps in attach.items()
            if v not in main_vars and v in opt_vars
        }
    out = cypher_match(
        nodes, rels, match_body, attach=attach_main or None,
        defer_kinds=defer_kinds,
    )
    if opt_body:
        opt = cypher_match(nodes, rels, opt_body, attach=attach_opt or None)
        shared = [c for c in out.columns if c in set(opt.columns)]
        if not shared:
            raise ValueError("OPTIONAL MATCH must share a variable with MATCH")
        out = out.join(opt, shared, "left")
    return out, main_vars | ({m[0] for m in _NODE_RE.findall(opt_body) if m[0]} if opt_body else set())


def cypher_query(nodes: DataFrame, rels: DataFrame, query: str) -> DataFrame:
    """Cypher-ish read query compiled to one DataFrame plan::

        MATCH <pattern>
        [WHERE <var>[.<prop>] <op> <literal> [AND ...]]
        [WITH [DISTINCT] <item> [, ...] [ORDER BY ... [SKIP n] [LIMIT n]]
         [WHERE ...] [UNWIND <list var> AS x]
         [MATCH ...] [WHERE ...]]*
        [RETURN [DISTINCT] <item> [, ...]]
        [ORDER BY <alias> [ASC|DESC] [, ...]]
        [SKIP <n>] [LIMIT <n>]
        [UNION [ALL] <another full query>]*

    MATCH also accepts ``p = shortestPath((a ...)-[:T*lo..hi]->(b ...))``
    (compiled to the BFS min-hops frontier; ``length(p)`` projects the
    hop count). ``UNWIND`` explodes a carried ``collect()`` list back
    into rows (property access on the unwound variable is not wired).

    items: var | var.prop | count(*) | count([DISTINCT] var) |
    sum/min/max/avg(var.prop) | collect([DISTINCT] var[.prop]), each
    optionally ``AS alias``.

    The clause pipeline maps 1:1 onto Spark relational ops — pattern →
    joins (``cypher_match``), WHERE → Column predicates (pushed down by
    Catalyst into the pattern joins), aggregates → groupBy over the
    non-aggregated items, ORDER BY/LIMIT → TakeOrderedAndProject. Each
    ``WITH`` is a pipeline BARRIER (Cypher's horizon): items are
    projected/aggregated, a WHERE after WITH filters the projected rows
    (Cypher's HAVING idiom), and a following MATCH joins its pattern on
    the variables shared with the carried rows — one equi-join, so a
    multi-stage pipeline is still a single Catalyst plan with no
    intermediate materialization. ``collect()`` renders as
    ``sort_array(collect_list)`` for deterministic output. WHERE
    supports AND plus top-level OR (disjunction of conjunction groups,
    compiled to ONE Column so Catalyst still pushes it into the scan;
    EXISTS inside OR is rejected — it is a join, not a Column); ops
    ``= <> < <= > >= STARTS WITH/ENDS WITH/CONTAINS``.

    The Cypher read surface of the reference's embedded API
    (`LockableNode.java:178-201` navigation + property reads), expressed
    Spark-first.
    """
    # ---- UNION / UNION ALL between complete queries ------------------
    # Cypher set semantics: UNION dedups the combined rows, UNION ALL
    # keeps them, mixing the two is rejected (as in Neo4j), and every
    # segment must RETURN the same column names. Compiles to
    # unionByName over the per-segment plans (+ one distinct for
    # UNION) — still a single Catalyst plan.
    segs = _split_outside(_UNION_RE, query)
    if len(segs) > 1:
        all_flags = {segs[i] is not None for i in range(1, len(segs), 2)}
        if len(all_flags) > 1:
            raise ValueError("cannot mix UNION and UNION ALL")
        union_all = all_flags.pop()
        branches = [cypher_query(nodes, rels, s) for s in segs[0::2]]
        cols = branches[0].columns
        for b in branches[1:]:
            if b.columns != cols:
                raise ValueError(
                    f"UNION segments must return the same columns: "
                    f"{cols} vs {b.columns}"
                )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out if union_all else out.distinct()

    parts = _split_outside(_KW_SPLIT_RE, query)
    if parts[0].strip():
        raise ValueError(f"query must start with MATCH: {query!r}")
    pairs: list[tuple[str, str]] = []
    for kw, body in zip(parts[1::2], parts[2::2]):
        key = re.sub(r"\s+", " ", kw.upper())
        if key in ("STARTS WITH", "ENDS WITH"):
            # not a clause boundary — a string predicate split by the
            # tokenizer; glue it back onto the clause it belongs to
            if not pairs:
                raise ValueError(f"{key} outside a clause: {query!r}")
            pkw, pbody = pairs[-1]
            pairs[-1] = (pkw, f"{pbody} {key} {body.strip()}".strip())
        else:
            pairs.append((key, body.strip()))

    # ---- split the clause stream into WITH-delimited stages ----------
    stages = []  # {post_where, unwind, match, opt, where, set, with_items, ...}
    cur = {"post_where": [], "unwind": [], "match": None, "opt": None,
           "where": [], "set": [], "with_items": None, "with_distinct": False}
    tail: dict[str, str] = {}  # RETURN / ORDER BY / SKIP / LIMIT
    seen_return = False
    for kw, body in pairs:
        if seen_return:
            if kw in ("ORDER BY", "SKIP", "LIMIT") and kw not in tail:
                tail[kw] = body
                continue
            raise ValueError(f"unexpected {kw} after RETURN")
        if kw == "MATCH":
            if cur["match"] is not None:
                raise ValueError("second MATCH without WITH — use WITH to chain")
            cur["match"] = body
        elif kw == "OPTIONAL MATCH":
            if cur["match"] is None:
                raise ValueError("OPTIONAL MATCH before MATCH")
            if cur["opt"] is not None:
                raise ValueError("one OPTIONAL MATCH per stage")
            cur["opt"] = body
        elif kw == "WHERE":
            (cur["where"] if cur["match"] is not None else cur["post_where"]).append(body)
        elif kw == "SET":
            for one in body.split(","):
                sm = re.match(
                    r"^(\w+)\.(\w+)\s*=\s*('[^']*'|\"[^\"]*\"|[\w.+-]+)$",
                    one.strip(),
                )
                if not sm:
                    raise ValueError(f"SET supports var.prop = literal: {one!r}")
                cur["set"].append(
                    (sm.group(1), sm.group(2), _parse_literal(sm.group(3)))
                )
        elif kw == "UNWIND":
            um = _AS_RE.match(body)
            src_ok = um and (
                re.match(r"^\w+$", um.group(1).strip())
                or re.match(r"^\[[^\]]*\]$", um.group(1).strip())
            )
            if not src_ok:
                raise ValueError(
                    f"UNWIND supports '<carried list var>|[literals] AS x': {body!r}"
                )
            if cur["match"] is not None:
                raise ValueError("UNWIND must precede this stage's MATCH")
            cur["unwind"].append((um.group(1).strip(), um.group(2)))
        elif kw == "WITH":
            items, dist = _parse_items(body)
            cur["with_items"], cur["with_distinct"] = items, dist
            stages.append(cur)
            cur = {"post_where": [], "unwind": [], "match": None, "opt": None,
                   "where": [], "set": [], "with_items": None,
                   "with_distinct": False}
        elif kw == "RETURN":
            tail["RETURN"] = body
            seen_return = True
        elif kw in ("ORDER BY", "SKIP", "LIMIT"):
            # mid-pipeline sort/pagination binds to the WITH projection
            # it directly follows (Cypher's `WITH … ORDER BY … LIMIT`
            # top-k horizon; a WHERE may come after — it filters the
            # paginated rows, as in Cypher)
            key = {"ORDER BY": "order_by", "SKIP": "skip", "LIMIT": "limit"}[kw]
            pristine = (
                cur["match"] is None
                and not cur["unwind"]
                and not cur["post_where"]
            )
            if not stages or stages[-1]["with_items"] is None or not pristine:
                raise ValueError(f"{kw} must directly follow a WITH projection")
            if stages[-1].get(key) is not None:
                raise ValueError(f"duplicate {kw} after WITH")
            stages[-1][key] = body
        else:
            raise ValueError(f"unexpected {kw} before RETURN")
    stages.append(cur)
    if stages[0]["match"] is None:
        raise ValueError("missing MATCH clause")
    if stages[0]["post_where"]:
        raise ValueError("WHERE before the first MATCH")

    # ---- execute stages ---------------------------------------------
    carried: DataFrame | None = None
    carried_node_vars: set[str] = set()  # plain vars still bound to node ids
    for si, stage in enumerate(stages):
        is_final = si == len(stages) - 1
        items = None
        distinct_flag = False
        if not is_final:
            items, distinct_flag = stage["with_items"], stage["with_distinct"]
        elif tail.get("RETURN"):
            items, distinct_flag = _parse_items(tail["RETURN"])

        conds = [c for b in stage["where"] for c in _parse_conds(b)]
        post_conds = [c for b in stage["post_where"] for c in _parse_conds(b)]
        exists_conds = [c for c in conds if c[0] == "__exists__"]
        conds = [c for c in conds if c[0] != "__exists__"]
        post_exists = [c for c in post_conds if c[0] == "__exists__"]
        post_conds = [c for c in post_conds if c[0] != "__exists__"]

        # every var.prop referenced this stage needs the node column —
        # except ones SET this stage, which the withColumn synthesizes
        set_props = {(v, p) for v, p, _ in stage["set"]}
        attach: dict[str, list[str]] = {}
        for var, prop, _, _ in conds:
            # WHERE precedes SET (Cypher clause order) so it always reads
            # the stored column, even when the same prop is SET after
            if var == "__or__":
                for v, p in _cond_refs([(var, prop, None, None)]):
                    attach.setdefault(v, []).append(p)
            elif prop:
                attach.setdefault(var, []).append(prop)
        for kind, var, prop, _, _ in items or []:
            if kind == "case" or kind.startswith("aggcase:"):
                # prop slot carries the CASE conditions' (var, prop) refs
                for v, p in prop:
                    attach.setdefault(v, []).append(p)
            elif prop and (var, prop) not in set_props:
                attach.setdefault(var, []).append(prop)
        for var, prop, _ in stage["set"]:
            # SET of an existing node column reads it first (to overwrite
            # in place); a brand-new property needs no attach — the
            # withColumn below creates it
            if prop in nodes.columns:
                attach.setdefault(var, []).append(prop)
        attach = {v: sorted(set(ps)) for v, ps in attach.items()}
        defer = _deferrable_attach_vars(
            items, conds, exists_conds, stage["set"], stage["opt"], attach,
            nodes=nodes, carried=carried,
        )
        kind_defer, id_alias = _deferrable_kind_semis(
            items, stage["match"], stage["opt"]
        )

        if carried is not None and post_conds:
            carried = _apply_conds(carried, post_conds)
        if carried is not None and post_exists:
            carried = _apply_exists(carried, rels, post_exists)
        if stage["unwind"]:
            # UNWIND <list var> AS x — explode a carried collect() list
            # back into rows (Cypher's list→rows horizon). Row expansion
            # happens where the list lives; no shuffle is introduced.
            if carried is None:
                raise ValueError("UNWIND before the first WITH is unsupported")
            for src, alias in stage["unwind"]:
                if src.startswith("["):
                    # literal list: UNWIND [1, 2, 3] AS x
                    lits = [
                        _parse_literal(one.strip())
                        for one in src[1:-1].split(",")
                        if one.strip()
                    ]
                    carried = carried.withColumn(
                        alias, F.explode(F.array(*[F.lit(v) for v in lits]))
                    )
                    continue
                if src not in carried.columns:
                    raise ValueError(f"UNWIND of unbound variable {src!r}")
                carried = carried.withColumn(alias, F.explode(F.col(src)))
                if alias != src:
                    carried = carried.drop(src)

        pattern_vars: set[str] = set()
        if stage["match"] is not None:
            pattern_attach = {
                v: ps
                for v, ps in attach.items()
                if v not in carried_node_vars and v not in defer
            }
            sp = _SHORTEST_RE.match(stage["match"])
            if sp:
                if stage["opt"]:
                    raise ValueError("OPTIONAL MATCH with shortestPath unsupported")
                df_stage, pattern_vars = shortest_path_match(
                    nodes, rels, sp.group(1), sp.group(2), pattern_attach
                )
            else:
                df_stage, pattern_vars = _compile_stage(
                    nodes, rels, stage["match"], stage["opt"], pattern_attach,
                    defer_kinds=set(kind_defer) or None,
                )
            bad = (set(pattern_attach) | defer) - pattern_vars - carried_node_vars
            if bad:
                raise ValueError(f"unbound variables referenced: {sorted(bad)}")
            if carried is None:
                out = df_stage
            else:
                shared = [c for c in carried.columns if c in set(df_stage.columns)]
                if not shared:
                    raise ValueError(
                        "MATCH after WITH must share a variable with the "
                        "carried rows"
                    )
                out = carried.join(df_stage, shared)
        else:
            if carried is None:
                raise ValueError("missing MATCH clause")
            out = carried

        # props of carried node vars attach via an id-keyed join here
        for var in sorted(set(attach) & carried_node_vars - pattern_vars - defer):
            want = [p for p in attach[var] if f"{var}_{p}" not in out.columns]
            missing = [p for p in want if p not in nodes.columns]
            if missing:
                raise ValueError(f"attach: unknown node columns {missing}")
            if want:
                proj = nodes.select(
                    F.col("id").alias(var),
                    *[F.col(p).alias(f"{var}_{p}") for p in want],
                )
                out = out.join(proj, var)

        out = _apply_conds(out, conds)
        if exists_conds:
            out = _apply_exists(out, rels, exists_conds)

        for var, prop, val in stage["set"]:
            # Cypher SET on the matched rows: the updated projection IS
            # the relational observable (the store-level upsert twin is
            # operators/mutation.upsert_properties, P2)
            out = out.withColumn(f"{var}_{prop}", F.lit(val))

        if items is not None:
            out = (
                _project_items_deferred(
                    nodes, out, items, distinct_flag, defer, attach
                )
                if defer
                else _project_items(out, items, distinct_flag)
            )
            for var, kind in kind_defer.items():
                out = out.join(
                    nodes.filter(F.col("kind") == kind).select(
                        F.col("id").alias(id_alias[var])
                    ),
                    id_alias[var],
                    "left_semi",
                )
            if not is_final:
                out = _apply_sort_page(
                    out,
                    stage.get("order_by"),
                    stage.get("skip"),
                    stage.get("limit"),
                )
                carried = out
                carried_node_vars = {
                    a for k, v, p, _, a in items
                    if k == "plain" and p is None
                    and (v in pattern_vars or v in carried_node_vars)
                }
        elif not is_final:
            carried = out  # WITH with no items can't happen (parser), safety
        if is_final:
            break

    return _apply_sort_page(
        out, tail.get("ORDER BY"), tail.get("SKIP"), tail.get("LIMIT")
    )


def _apply_sort_page(out: DataFrame, order_by, skip, limit) -> DataFrame:
    """ORDER BY / SKIP / LIMIT tail — shared by the final clause and
    mid-pipeline ``WITH … ORDER BY … LIMIT`` (Cypher's top-k horizon;
    sort+limit fuse into one TakeOrdered-style plan under AQE)."""
    if order_by:
        order_cols = []
        for one in order_by.split(","):
            om = re.match(r"^(\w+)(?:\s+(ASC|DESC))?$", one.strip(), re.I)
            if not om:
                raise ValueError(f"unsupported ORDER BY item: {one.strip()!r}")
            c = F.col(om.group(1))
            order_cols.append(c.desc() if (om.group(2) or "").upper() == "DESC" else c)
        out = out.orderBy(*order_cols)
    if skip:
        # Cypher SKIP = relational OFFSET
        out = out.offset(int(skip))
    if limit:
        out = out.limit(int(limit))
    return out
