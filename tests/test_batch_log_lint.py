"""Source lint: the batch-keyed write and the directory commit each exist
once.

Every replay-safe writer goes through ``sources/batch_log.write_batch``.
A hand-written copy elsewhere (a ``partitionOverwriteMode`` option or a
``partitionBy`` on a batch column) is how the package grew six of them,
each with its own inferred-schema read, so this test fails on the next
one. The two other overwrite sites are not batch logs: the month
backfill (``backfill.backfill_partitioned``) and the session default
(``session.get_spark``).

Every replacement of a directory goes through ``batch_log.commit``: a
rename, replace, move or tree removal elsewhere is how the package grew
two non-atomic rename swaps, so ``os.rename``, ``os.replace``,
``shutil.move`` and ``shutil.rmtree`` appear only in ``batch_log`` and
in three named places that touch no committed artifact: the streaming
run-dir reaper, the CDC file-source staging and the streamed IVF-PQ
staging's removal of its build codes."""

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


FILE_OPS = {("os", "rename"), ("os", "replace"), ("shutil", "move"), ("shutil", "rmtree")}
FILE_OPS_ALLOWED = {
    ("sources/batch_log.py", "_point"),
    ("sources/batch_log.py", "_remove"),
    ("queries/maintenance.py", "_fresh_run_dir"),
    ("queries/maintenance.py", "_stage_cdc_batches"),
    ("queries/maintenance.py", "_stage_ivfpq_stream"),
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


def _file_ops(tree: ast.AST):
    """(function, line, name) of every reference to a directory-moving
    or -removing function (called or passed, e.g. to ``atexit``), and
    of every string naming the ``_CURRENT`` pointer outside a
    docstring, with its enclosing function."""

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            return  # a docstring or a bare string statement
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in FILE_OPS
        ):
            yield fn, node.lineno, f"{node.value.id}.{node.attr}"
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "_CURRENT" in node.value
        ):
            yield fn, node.lineno, "_CURRENT"
        for child in ast.iter_child_nodes(node):
            yield from visit(child, fn)

    yield from visit(tree, None)


def _file_op_sites():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line, what in _file_ops(ast.parse(path.read_text())):
            yield rel, fn, line, what


def test_directory_commits_only_in_batch_log():
    offenders = [
        f"{rel}:{line} ({fn}): {what}"
        for rel, fn, line, what in _file_op_sites()
        if (rel, fn) not in FILE_OPS_ALLOWED
        and not (what == "_CURRENT" and rel == "sources/batch_log.py")
    ]
    assert not offenders, (
        "directory renames/removals outside sources/batch_log.py; commit "
        f"through batch_log.commit: {offenders}"
    )
    source = "\n".join(p.read_text() for p in PACKAGE.rglob("*.py"))
    for gone in ("_swap_dir", "__compact_tmp", "__compact_old"):
        assert gone not in source, gone


def test_file_op_lint_sees_the_allowed_sites():
    """The scan is not vacuous: it finds every site it allows."""
    found = {
        (rel, fn) for rel, fn, _, what in _file_op_sites() if what != "_CURRENT"
    }
    assert found == FILE_OPS_ALLOWED
