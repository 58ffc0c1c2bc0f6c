"""One read path: file reads in the engine go through ``serials.py``.

Every other use of a session's ``read``/``readStream`` reader in
``porcupine_spark/`` must be on the allowlist below, with its reason;
a new direct read would bypass the serial layer's schema memo and its
post-read hooks.
"""

import ast
import os

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
    ("streaming/sinks.py", "stream_upsert_to_dataset.upsert_epoch"): (
        "reads back the sink it rewrites every micro-batch, on any Hadoop URI"
    ),
    ("task_ext.py", "read_folder"): (
        "recursive scan with a provenance column, any format, caller options"
    ),
    ("tables.py", "_stream_source"): (
        "a streaming file source; its schema comes from parquet_serial().read"
    ),
}


def _reader_uses(tree: ast.AST):
    """(function qualname, line) of every ``<...spark...>.read`` or
    ``.readStream`` attribute, e.g. ``spark.read.parquet(p)`` or
    ``reader = self.spark.read``."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            if (
                isinstance(child, ast.Attribute)
                and child.attr in ("read", "readStream")
                and "spark" in ast.unparse(child.value).lower()
            ):
                yield ".".join(scope), child.lineno
            yield from walk(child, scope)

    yield from walk(tree, [])


def _direct_reads() -> dict[tuple[str, str], int]:
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
            for scope, line in _reader_uses(tree):
                found.setdefault((rel, scope), line)
    return found


def test_file_reads_go_through_the_serial_layer():
    stray = {
        f"porcupine_spark/{rel}:{line} ({scope})"
        for (rel, scope), line in _direct_reads().items()
        if (rel, scope) not in ALLOWED
    }
    assert not stray, f"direct spark.read outside serials.py: {sorted(stray)}"


def test_allowlist_has_no_stale_entries():
    assert set(ALLOWED) <= set(_direct_reads())
