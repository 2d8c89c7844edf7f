"""The environment variables the library reads, pinned: the deployment
settings in ``session.py``. A tuning variable read anywhere else in
``nebula_spark/`` fails here; pass it as an argument instead. Likewise
the library's one runtime conf write, pinned: the width of a fresh
``bucket_session`` clone, which no caller's session ever sees."""

import ast
import pathlib

import nebula_spark

PINNED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "NEBULA_JDBC_JAR"),
    ("session.py", "NEBULA_AVRO_JAR"),
    ("session.py", "SPARK_HOME"),
    ("session.py", "NEBULA_SHUFFLE_PARTITIONS"),
    ("session.py", "SPARK_MASTER"),
    ("session.py", "SPARK_DRIVER_MEMORY"),
    ("session.py", "SPARK_EXECUTOR_MEMORY"),
}


def _key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<dynamic>"


def _environ_reads(tree: ast.AST):
    """The variable names of every ``os.environ`` / ``os.getenv`` use:
    ``environ.get|pop|setdefault(X)``, ``environ[X]``, ``X in environ``
    and ``getenv(X)``; any other use of ``environ`` counts as
    ``<environ>``."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and (
            isinstance(node.func, ast.Attribute) and node.func.attr == "getenv"
            or isinstance(node.func, ast.Name) and node.func.id == "getenv"
        ):
            yield _key(node.args[0] if node.args else None)
        if not (
            isinstance(node, ast.Attribute) and node.attr == "environ"
            or isinstance(node, ast.Name) and node.id == "environ"
        ):
            continue
        p = parent.get(node)
        if (
            isinstance(p, ast.Attribute)
            and p.attr in ("get", "pop", "setdefault")
            and isinstance(parent.get(p), ast.Call)
        ):
            call = parent[p]
            yield _key(call.args[0] if call.args else None)
        elif isinstance(p, ast.Subscript) and p.value is node:
            yield _key(p.slice)
        elif isinstance(p, ast.Compare) and isinstance(p.ops[0], (ast.In, ast.NotIn)):
            yield _key(p.left)
        else:
            yield "<environ>"


def test_library_environment_reads_are_pinned():
    root = pathlib.Path(nebula_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(root).as_posix()
        found.update((rel, name) for name in _environ_reads(tree))
    assert found == PINNED


def _conf_sets(tree: ast.AST):
    """The innermost enclosing function (``<module>`` at top level) of
    every ``<x>.conf.set(...)`` call."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            continue
        p = parent.get(node)
        while p is not None and not isinstance(p, (ast.FunctionDef, ast.AsyncFunctionDef)):
            p = parent.get(p)
        yield "<module>" if p is None else p.name


def test_library_conf_writes_are_pinned():
    root = pathlib.Path(nebula_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(root).as_posix()
        found += [(rel, fn) for fn in _conf_sets(tree)]
    assert found == [("lake/table.py", "bucket_session")]
