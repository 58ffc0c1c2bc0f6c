"""One access path: file reads and writes in the engine go through
``serials.py``.

Every other use of a session's ``read``/``readStream`` reader, or of a
frame's ``write`` builder, in ``porcupine_spark/`` must be on an
allowlist below, with its reason. A new direct read would bypass the
serial layer's schema memo and its post-read hooks; a new direct write
would bypass the serial's ``writable`` check, its pre-write transform
and, for a catalog dataset, the accessors and the access log.

The tests find their data the same way: only ``conftest.py`` names a
test-data directory, so ``SPARK_GRAFT_TEST_SF`` and
``SPARK_GRAFT_TEST_SF01`` move every test that reads one.
"""

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "porcupine_spark")

ALLOWED = {
    ("sources/http.py", "json_bodies_to_df"): (
        "decodes fetched HTTP bodies (strings in an RDD), not files"
    ),
    ("sources/http.py", "read_url_via_serial"): (
        "decodes one fetched HTTP body in the serial's format, not a file"
    ),
    ("sources/pyds.py", "register_synth_scheme._read"): (
        "a Python DataSource generates its rows: no files, no schema to infer"
    ),
    ("task_ext.py", "read_folder"): (
        "recursive scan with a provenance column, any format, caller options"
    ),
    ("tables.py", "_stream_source"): (
        "a streaming file source; its schema comes from parquet_serial().read"
    ),
}

ALLOWED_WRITES = {
    ("bucketing.py", "write_bucketed"): (
        "bucketBy needs a metastore table (saveAsTable), which no serial writes"
    ),
}


def _is_reader(node: ast.AST) -> bool:
    """``<...spark...>.read`` or ``.readStream``, e.g.
    ``spark.read.parquet(p)`` or ``reader = self.spark.read``."""
    return (
        isinstance(node, ast.Attribute)
        and node.attr in ("read", "readStream")
        and "spark" in ast.unparse(node.value).lower()
    )


def _is_writer(node: ast.AST) -> bool:
    """``<expr>.write.<method>``, e.g. ``df.write.mode("overwrite")``;
    a call of a ``write`` method (``serial.write(df, p)``) is not one."""
    return (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "write"
    )


def _uses(tree: ast.AST, match):
    """(function qualname, line) of every node ``match`` accepts."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            if match(child):
                yield ".".join(scope), child.lineno
            yield from walk(child, scope)

    yield from walk(tree, [])


def _scan(match) -> dict[tuple[str, str], int]:
    found = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if rel == "serials.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for scope, line in _uses(tree, match):
                found.setdefault((rel, scope), line)
    return found


def _stray(found: dict, allowed: dict) -> set[str]:
    return {
        f"porcupine_spark/{rel}:{line} ({scope})"
        for (rel, scope), line in found.items()
        if (rel, scope) not in allowed
    }


def test_file_reads_go_through_the_serial_layer():
    stray = _stray(_scan(_is_reader), ALLOWED)
    assert not stray, f"direct spark.read outside serials.py: {sorted(stray)}"


def test_allowlist_has_no_stale_entries():
    assert set(ALLOWED) <= set(_scan(_is_reader))


def test_file_writes_go_through_the_serial_layer():
    stray = _stray(_scan(_is_writer), ALLOWED_WRITES)
    assert not stray, f"direct df.write outside serials.py: {sorted(stray)}"


def test_write_allowlist_has_no_stale_entries():
    assert set(ALLOWED_WRITES) <= set(_scan(_is_writer))



TESTS = os.path.dirname(os.path.abspath(__file__))
DATA_PATH = re.compile(r"(^|/)testdata(/|$)")


def test_data_path_literals_only_in_conftest():
    """No test module but ``conftest.py`` holds a string with a
    ``testdata`` path component (f-string parts included)."""
    stray = []
    for name in sorted(os.listdir(TESTS)):
        if not name.endswith(".py") or name == "conftest.py":
            continue
        path = os.path.join(TESTS, name)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        stray += [
            f"tests/{name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and DATA_PATH.search(node.value)
        ]
    assert not stray, f"test-data path literals outside conftest.py: {stray}"
