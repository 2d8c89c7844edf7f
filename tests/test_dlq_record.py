"""The dead-letter record's format, pinned: ``cdc/dlq.py`` is the only
module of ``nebula_spark/`` that names the ``event_key`` column, so the
key ``<epoch>:<op_sequence>:<reason>`` is built and parsed in one
place."""

import ast
import pathlib

import nebula_spark


def test_event_key_is_named_only_in_the_dlq_module():
    root = pathlib.Path(nebula_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        if any(
            isinstance(n, ast.Constant) and n.value == "event_key"
            for n in ast.walk(tree)
        ):
            found.add(path.relative_to(root).as_posix())
    assert found == {"cdc/dlq.py"}
