"""One whitespace tokenizer for both engines.

``operators/text.py`` decides which characters split words: ``tokens``
and ``normalized`` render the decision for Spark, ``sql_tokens`` and
``sql_normalized`` for DuckDB, and the regex tokenizer excludes the same
class. These tests pin that the two renderings agree code point by code
point, that the registered queries still agree with their oracles on a
corpus full of planted whitespace, and that no module splits words its
own way.
"""

import ast
import os
import re
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from verify_oracles import canon  # noqa: E402

from porcupine_spark.operators import text  # noqa: E402
from porcupine_spark.tables import TABLES, table_path  # noqa: E402
from test_streaming import PKG  # noqa: E402

# every code point that Python's, Java's or RE2's \s treats as space
SPACE_LIKE = (
    [*range(0x09, 0x0E), *range(0x1C, 0x20), 0x85, 0xA0, 0x1680]
    + [*range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)
EDGE_TEXTS = ["", "   ", " \t\n\r\f ", None, "\tab cd\t", " ab  cd "]


def _probe_texts():
    rows = [f"ab{chr(cp)}cd {chr(cp)}ef{chr(cp)}" for cp in SPACE_LIKE]
    return list(enumerate(rows + EDGE_TEXTS))


def test_tokens_match_duckdb_per_code_point(spark):
    """Spark ``tokens`` == DuckDB ``sql_tokens`` (and likewise for the
    normalized text and the regex tokenizer) for every space-like code
    point inside, before and after a word, and for empty, blank, NULL
    and tab-framed texts."""
    rows = _probe_texts()
    sdf = spark.createDataFrame(rows, "id long, text string").select(
        "id",
        text.tokens(F.col("text")).alias("toks"),
        text.normalized(F.col("text")).alias("norm"),
        F.regexp_extract_all("text", F.lit(text._RE_TOKEN), 0).alias("re"),
    )
    got = {r.id: (r.toks, r.norm, r.re) for r in sdf.collect()}
    con = duckdb.connect()
    con.register("probe", pa.table({"id": [i for i, _ in rows], "text": [t for _, t in rows]}))
    sql = (
        f"SELECT id, {text.sql_tokens()}, {text.sql_normalized()}, "
        f"regexp_extract_all(text, '{text._RE_TOKEN}') FROM probe"
    )
    want = {i: (t, n, r) for i, t, n, r in con.execute(sql).fetchall()}
    bad = {
        f"{rows[i][1]!r}": (got[i], want[i]) for i in got if got[i] != want[i]
    }
    assert not bad, bad
    # the decision itself: U+000B, U+00A0 and U+2028 sit inside words
    assert got[SPACE_LIKE.index(0x0B)][0] == ["ab\x0bcd", "\x0bef\x0b"]
    assert got[SPACE_LIKE.index(0x09)][0] == ["ab", "cd", "ef"]
    assert got[len(SPACE_LIKE) + EDGE_TEXTS.index("\tab cd\t")][0] == ["ab", "cd"]


# --- planted whitespace: every tokenizing site family against its oracle ---

SWEEP = (
    "text_stats",
    "gopher_quality_filter",
    "shingle_df_spectrum",
    "dedup_ngram_jaccard",
    "verbatim_span_pairs",
    "simhash_pairs",
    "vocab_top_tokens",
    "bpe_encode_tokens",
    "repetition_ratio",
    "segment_dup_fraction",
    "stream_quality_gate",
    "hll_distinct_estimate",
)


def planted_text(doc_id: int, body: str) -> str:
    """``body`` (single-spaced words) with whitespace planted by doc_id:
    tabs, newlines, space runs, framing whitespace, or U+000B / U+00A0 /
    U+2028 inside the first two words; doc 0 is empty, doc 1 blank."""
    if doc_id == 0:
        return ""
    if doc_id == 1:
        return " \t\n "
    words = body.split(" ")
    k = doc_id % 8
    if k in (0, 1, 2):
        return ("\t", "\n", "   ")[k].join(words)
    if k == 3:
        return " \t" + body + "\r\n "
    if k in (4, 5, 6):
        mark = ("\x0b", "\xa0", "\u2028")[k - 4]
        words[:2] = [w[:1] + mark + w[1:] for w in words[:2]]
        return " ".join(words)
    return "\f".join(words[:3] + [" \r ".join(words[3:])])


@pytest.fixture(scope="module")
def planted_sf(sf_dir, tmp_path_factory):
    """sf0.001's tables with ``documents.text`` rewritten by
    ``planted_text`` and ``n_chars`` recomputed to match."""
    out = tmp_path_factory.mktemp("planted_ws")
    for t in TABLES:
        shutil.copyfile(table_path(sf_dir, t), table_path(str(out), t))
    docs = pq.read_table(table_path(sf_dir, "documents"))
    texts = [
        planted_text(i, body)
        for i, body in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
    ]
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    ).set_column(
        docs.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )
    pq.write_table(docs, table_path(str(out), "documents"))
    return str(out)


def test_planted_whitespace_queries_match_oracles(spark, planted_sf):
    """One tokenizing query per site family agrees exactly with its
    DuckDB oracle on a corpus of tabs, newlines, space runs, framing
    whitespace, in-word U+000B / U+00A0 / U+2028, an empty and a blank
    text."""
    from porcupine_spark.plans.registry import load_all_plans

    specs = load_all_plans()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(planted_sf, t)}')"
        )
    bad = {}
    for name in SWEEP:
        got = canon(specs[name].builder(spark, planted_sf).toPandas(), 0.0)
        want = canon(con.sql(specs[name].oracle).df(), 0.0)
        if got != want:
            diff = sorted(set(got) ^ set(want))[:2]
            bad[name] = (len(got), len(want), diff)
    assert not bad, bad


# --- one definition: no module splits words its own way ---

TEXT_PY = os.path.join("operators", "text.py")
DEFINITIONS = ("normalized", "tokens", "sql_normalized", "sql_tokens")
_SPLIT_SQL = re.compile(r"string_split\(([^,]*)")
_WORDY = re.compile(r"\btext\b|normalized|regexp_replace")


def _rendered(node):
    """A string literal's text, with an f-string's fields as ``{src}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "".join(
        v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
        for v in node.values
    )


def _exempt_lines(tree, rel):
    """Lines of text.py's own tokenizer definitions, of docstrings, and
    of arguments to Python ``re`` calls (driver-side parsing that never
    sees a document)."""
    lines = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ) or (
            rel == TEXT_PY and isinstance(node, ast.FunctionDef) and node.name in DEFINITIONS
        ) or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and getattr(node.func.value, "id", None) == "re"
        ):
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def _stray_splits(tree, rel=None):
    """Line of every word split outside text.py's definitions: a ``\\s``
    regex, a ``string_split(`` over text, or an ``F.split`` over text or
    a normalized text (one assignment deep)."""
    exempt = _exempt_lines(tree, rel)
    bound = {
        t.id: node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    for node in ast.walk(tree):
        if getattr(node, "lineno", None) in exempt:
            continue
        if isinstance(node, (ast.Constant, ast.JoinedStr)) and (
            not isinstance(node, ast.Constant) or isinstance(node.value, str)
        ):
            s = _rendered(node)
            if "\\s" in s or any(_WORDY.search(a) for a in _SPLIT_SQL.findall(s)):
                yield node.lineno
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "split"
            and getattr(node.func.value, "id", None) == "F"
            and node.args
        ):
            arg = node.args[0]
            arg = bound.get(arg.id, arg) if isinstance(arg, ast.Name) else arg
            if _WORDY.search(ast.unparse(arg)):
                yield node.lineno


def test_words_split_only_in_text_py():
    """Which characters split words is decided once, in text.py: no
    module pastes a ``\\s`` regex, a ``string_split`` over text or an
    ``F.split`` over text. BPE's ``'  '`` symbol splits over ``ws`` are
    not word splits."""
    found = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, PKG)
                with open(path) as fh:
                    lines = sorted(set(_stray_splits(ast.parse(fh.read(), path), rel)))
                if lines:
                    found[rel] = lines
    assert not found, f"word splits outside text.py's tokenizer: {found}"
    # and the scan does see a split: text.py's own, once un-exempted
    with open(os.path.join(PKG, TEXT_PY)) as fh:
        assert list(_stray_splits(ast.parse(fh.read())))
