"""Registry hygiene: every ``register()`` call produces exactly one
REGISTRY entry (no silent shadowing — the r10 verdict found two
duplicate names whose earlier registrations were dead code), and a
collision raises immediately."""

import ast
import pathlib

import pytest

from neo4j_enterprise_spark import plans
from neo4j_enterprise_spark.plans import REGISTRY, all_queries, register

PLANS_DIR = pathlib.Path(plans.__file__).parent


def _register_call_names(paths=None) -> list[str]:
    """Every literal first argument of a ``@register(...)`` decorator
    across the plans package (or the given files), by AST, in source
    order (source of truth for 'which registrations were written')."""
    names: list[str] = []
    for path in paths or sorted(PLANS_DIR.glob("*.py")):
        calls = [
            node
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ]
        calls.sort(key=lambda node: (node.lineno, node.col_offset))
        names += [node.args[0].value for node in calls]
    return names


def test_no_duplicate_registrations():
    all_queries()  # import side-effect populates REGISTRY
    names = _register_call_names()
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"duplicate register() names: {sorted(dupes)}"
    assert len(names) == len(set(names) & set(REGISTRY)) == len(REGISTRY)


def test_register_raises_on_collision():
    all_queries()
    existing = next(iter(REGISTRY))
    with pytest.raises(ValueError, match="duplicate query registration"):
        register(existing, None)(lambda spark, sf_dir: None)


def test_entry_contract_is_the_registry_in_registration_order():
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert names == list(REGISTRY)
    # each plans module's queries sit in the order they are written
    for path in sorted(PLANS_DIR.glob("*.py")):
        module = f"{plans.__name__}.{path.stem}"
        registered = [n for n in names if REGISTRY[n].spark.__module__ == module]
        assert registered == _register_call_names([path]), module
    assert set(entry.oracle_sql()) <= set(names)
    assert "endpoints_not_in_use" in REGISTRY  # what entry() runs
