"""Guard: no silent shadowing anywhere in the engine source.

Two failure modes hit three rounds in a row (r06-r08 verdicts:
`shard_manifest`, `cdc_apply`/`apply_cdc`, `interval_overlap_join`,
`_lang_confusion_oracle`):

1. A second module-level `def`/`class` with the same name silently
   replaces the first — the original becomes dead code that still
   reads as live.
2. A second `_q("<name>", ...)` registration silently overwrites the
   first in the QUERIES dict (bare dict write).

(2) is now an import-time assert inside every module's `_q` and in
`queries._merge` (cross-module), so the catalog cannot even import
with a collision. (1) is enforced here by an AST sweep over ALL
non-test source: every module must have unique module-level def/class
names, and unique names inside each class body. Conditional
re-definitions (an `if/try` fallback chain defining the same name in
disjoint branches) would be a false positive — none exist today; if
one ever appears legitimately, allowlist it HERE with a justification
the same way test_broadcast_guard.py records bounds.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (relative-path, duplicated-name) -> justification. Empty today.
ALLOWED_DUPLICATES: dict[tuple[str, str], str] = {}


def _source_files():
    for base in ("redshift_etl_spark", "scripts"):
        for dirpath, _dirnames, filenames in os.walk(
            os.path.join(ROOT, base)
        ):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    yield os.path.join(dirpath, fn)
    yield os.path.join(ROOT, "__spark_entry__.py")


def _dup_defs(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    dups: list[str] = []

    def sweep(body, scope: str):
        seen: dict[str, int] = {}
        for node in body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if node.name in seen:
                    dups.append(
                        f"{scope}{node.name} (lines "
                        f"{seen[node.name]} and {node.lineno})"
                    )
                else:
                    seen[node.name] = node.lineno
                if isinstance(node, ast.ClassDef):
                    sweep(node.body, f"{scope}{node.name}.")

    sweep(tree.body, "")
    return dups


def test_no_shadowed_module_level_defs():
    offenders: list[str] = []
    for path in _source_files():
        rel = os.path.relpath(path, ROOT)
        for dup in _dup_defs(path):
            name = dup.split(" ")[0]
            if (rel, name) in ALLOWED_DUPLICATES:
                continue
            offenders.append(f"{rel}: {dup}")
    assert not offenders, (
        "Shadowed (duplicate) module-level definitions — the later def "
        "silently wins and the earlier is dead code. Rename or delete:\n"
        + "\n".join(offenders)
    )


def test_every_allowlist_entry_documents_why():
    for key, why in ALLOWED_DUPLICATES.items():
        assert isinstance(why, str) and len(why) > 20, (
            f"{key}: allowlisted duplicate needs a real justification"
        )


def test_q_registration_raises_on_collision():
    """The in-module guard itself: re-registering an existing name must
    raise, not silently overwrite. ValueError, not AssertionError —
    python -O strips asserts, which would silently restore the exact
    shadowing the guard exists to prevent (ADVICE r09)."""
    import pytest

    from redshift_etl_spark.queries import relational as R

    assert "cdc_apply" in R.QUERIES  # the r07 survivor
    with pytest.raises(ValueError, match="duplicate query"):

        @R._q("cdc_apply", None)
        def cdc_apply(spark, sf_dir):  # pragma: no cover
            raise NotImplementedError

    # the failed registration must not have clobbered the original
    assert R.QUERIES["cdc_apply"].__module__ == R.__name__


def test_catalog_merge_raises_on_cross_module_collision(monkeypatch):
    """The cross-module guard: a name registered by two query modules
    must raise from the catalog merge, not let the later module win."""
    import pytest

    from redshift_etl_spark import queries as Q
    from redshift_etl_spark.queries import relational as R

    monkeypatch.setitem(
        R.QUERIES, "agent_metrics", Q.agent_metrics.QUERIES["agent_metrics"]
    )
    with pytest.raises(ValueError, match="cross-module query collision"):
        Q.all_queries()
