"""One whitespace tokenizer for both engines.

``operators/text.py`` decides which characters split words: ``tokens``
and ``normalized`` render the decision for Spark, ``sql_tokens`` and
``sql_normalized`` for DuckDB, ``py_tokens`` and ``py_normalized`` for
state derived on the driver, and the regex tokenizer excludes the same
class. These tests pin that the three renderings agree code point by
code point, that the registered queries still agree with their oracles
on a corpus full of planted whitespace, and that no module splits words
its own way, in Spark, SQL or Python.
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
    """Python ``py_tokens`` == Spark ``tokens`` == DuckDB ``sql_tokens``
    (and likewise for the normalized text; Spark == DuckDB for the regex
    tokenizer) for every space-like code point inside, before and after
    a word, and for empty, blank, NULL and tab-framed texts."""
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
    py = {i: (text.py_tokens(t), text.py_normalized(t)) for i, t in rows}
    bad = {f"{rows[i][1]!r}": (py[i], got[i][:2]) for i in got if py[i] != got[i][:2]}
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
DEFINITIONS = (
    "normalized",
    "tokens",
    "sql_normalized",
    "sql_tokens",
    "py_normalized",
    "py_tokens",
)
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


def _exempt_lines(tree, rel, python=False):
    """Lines of text.py's own tokenizer definitions, of docstrings, and
    (for the Spark and SQL scan, ``python=False``) of arguments to
    Python ``re`` calls, which ``_py_splits`` checks instead."""
    lines = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ) or (
            rel == TEXT_PY and isinstance(node, ast.FunctionDef) and node.name in DEFINITIONS
        ) or (
            not python
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and getattr(node.func.value, "id", None) == "re"
        ):
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


_PY_WS = " \t\n\f\r\x0b"
# a Python regex matching a run of whitespace or of non-whitespace:
# ``\s+`` or ``\S+``, a bracketed class holding a space or a ``\s``-like
# escape and repeated with ``+``, or ``_WS``
_WS_RUN = re.compile(r"\\[sS]\+|\[[^\]]*(\\[stnfrv]|\s)[^\]]*\]\+|_WS")


def _source(node):
    """A string literal's text (f-string fields as ``{src}``), or any
    other expression's source."""
    if isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Constant) and isinstance(node.value, str)
    ):
        return _rendered(node)
    return ast.unparse(node)


def _py_splits(tree, exempt):
    """Line of every Python word split outside ``exempt``: ``re.split``,
    any ``re`` call whose pattern matches a whitespace run, ``str.split``,
    and a ``split()`` or ``split(<one whitespace character>)`` call on
    anything but a string literal. BPE's ``"  "`` symbol split is not a
    word split."""
    for node in ast.walk(tree):
        if (
            not isinstance(node, ast.Call)
            or not isinstance(node.func, ast.Attribute)
            or node.lineno in exempt
        ):
            continue
        attr, owner = node.func.attr, getattr(node.func.value, "id", None)
        if owner == "re" and node.args:
            if attr == "split" or _WS_RUN.search(_source(node.args[0])):
                yield node.lineno
        elif attr in ("split", "rsplit") and owner != "F":
            sep = node.args[0] if node.args else None
            on_literal = isinstance(node.func.value, ast.Constant)
            if (
                owner == "str"
                or (sep is None and not node.keywords and not on_literal)
                or (
                    isinstance(sep, ast.Constant)
                    and isinstance(sep.value, str)
                    and len(sep.value) == 1
                    and sep.value in _PY_WS
                )
            ):
                yield node.lineno


def _stray_splits(tree, rel=None):
    """Line of every word split outside text.py's definitions: a ``\\s``
    regex, a ``string_split(`` over text, an ``F.split`` over text or
    a normalized text (one assignment deep), or a Python split
    (``_py_splits``)."""
    yield from _py_splits(tree, _exempt_lines(tree, rel, python=True))
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
    module pastes a ``\\s`` regex, a ``string_split`` over text, an
    ``F.split`` over text or a Python split of text (``re.split``,
    ``str.split``, a whitespace-run regex). BPE's ``'  '`` symbol splits
    over ``ws`` are not word splits."""
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
    # and the scan does see a split: text.py's own, once un-exempted,
    # the Python ones among them
    with open(os.path.join(PKG, TEXT_PY)) as fh:
        tree = ast.parse(fh.read())
    assert list(_stray_splits(tree))
    assert list(_py_splits(tree, set()))


# --- planted edge texts: trims and empty texts on both engines ---


def _planted_docs_mismatches(spark, tmp_path, texts, names):
    """{query: (builder rows, oracle rows)} for each of ``names`` that
    disagrees on a documents table of ``texts`` (doc ids 1, 2, ...)."""
    from porcupine_spark.plans.registry import load_all_plans

    path = table_path(str(tmp_path), "documents")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": ["en"] * len(texts),
                "source": [("a", "b")[i % 2] for i in range(len(texts))],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )
    specs = load_all_plans()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for name in names:
        got = canon(specs[name].builder(spark, str(tmp_path)).toPandas(), 0.0)
        want = canon(con.sql(specs[name].oracle).df(), 0.0)
        if got != want:
            bad[name] = (sorted(got), sorted(want))
    return bad


def test_exact_dup_hashes_trim_only_spaces(spark, tmp_path):
    """The exact-dup digests trim only ``' '`` on both engines: a text
    ending in U+00A0 is not a copy of the text without it (DuckDB's
    one-argument ``trim`` would strip it), while one framed in spaces
    is."""
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    texts = [body, "x y", f"  {body} ", "lorem ipsum", f"{body} "]
    texts += ["x y ", "z", "x y ", "q", f" {body}"]
    bad = _planted_docs_mismatches(
        spark,
        tmp_path,
        texts,
        ("dedup_exact", "incremental_dedup", "prefix_dup_clusters", "stream_near_dedup"),
    )
    assert not bad, bad


def test_empty_and_blank_texts_divide_to_null(spark, tmp_path):
    """An empty text (no characters) and a blank one (no regex tokens)
    give a NULL ratio where the divisor is 0, as DuckDB's division does,
    instead of failing the query; so does a kappa whose two raters put
    every doc in one class (total chance agreement)."""
    texts = ["", " \t\n ", "the quick brown fox", "a", "   ", "ok 12 ok"]
    bad = _planted_docs_mismatches(
        spark,
        tmp_path,
        texts,
        ("quality_score", "quality_gate_kappa", "token_count_bpe", "lang_id_kappa"),
    )
    assert not bad, bad
