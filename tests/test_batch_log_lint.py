"""Source lint: the batch-keyed write exists once.

Every replay-safe writer goes through ``sources/batch_log.write_batch``.
A hand-written copy elsewhere (a ``partitionOverwriteMode`` option or a
``partitionBy`` on a batch column) is how the package grew six of them,
each with its own inferred-schema read, so this test fails on the next
one. The two other overwrite sites are not batch logs: the month
backfill (``backfill.backfill_partitioned``) and the session default
(``session.get_spark``)."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "nyc_opendata_etl_spark"
BATCH_COLUMNS = {"b", "batch", "batch_id"}
ALLOWED = {
    ("sources/batch_log.py", "write_batch"),
    ("operators/backfill.py", "backfill_partitioned"),
    ("session.py", "get_spark"),
}


def _sites(tree: ast.AST):
    """(function, line, what) of every overwrite-mode or batch-column
    partitioning call, with its enclosing function."""

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            consts = [a.value for a in node.args if isinstance(a, ast.Constant)]
            if any(isinstance(c, str) and "partitionOverwriteMode" in c for c in consts):
                yield fn, node.lineno, "partitionOverwriteMode"
            if node.func.attr == "partitionBy" and BATCH_COLUMNS & set(consts):
                yield fn, node.lineno, "partitionBy(batch column)"
        for child in ast.iter_child_nodes(node):
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_batch_keyed_writes_only_in_batch_log():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line, what in _sites(ast.parse(path.read_text())):
            if (rel, fn) not in ALLOWED:
                offenders.append(f"{rel}:{line} ({fn}): {what}")
    assert not offenders, (
        "batch-keyed writes outside sources/batch_log.py; use "
        f"batch_log.write_batch: {offenders}"
    )


def test_lint_sees_the_allowed_sites():
    """The scan is not vacuous: it finds the write it allows."""
    found = {
        (path.relative_to(PACKAGE).as_posix(), fn)
        for path in PACKAGE.rglob("*.py")
        for fn, _, _ in _sites(ast.parse(path.read_text()))
    }
    assert found == ALLOWED
