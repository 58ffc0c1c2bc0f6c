"""Catalog / serials / layered-merge semantics (SURVEY §1, §2.1).

Mirrors the reference's test genres (test/Test/Porcupine/PTask.hs):
identity properties, config/catalog resolution units, E2E fixtures.
"""

import os

import pytest

from porcupine_spark.catalog import Catalog, Dataset, Location, splice_vars, template_vars
from porcupine_spark.serials import (
    SerialSet,
    csv_serial,
    json_serial,
    parquet_serial,
    text_serial,
    with_compression,
)


def test_splice_vars():
    assert splice_vars("/data/User-{userId}.json", {"userId": 3}) == "/data/User-3.json"
    assert template_vars("{a}/x/{b}.parquet") == ["a", "b"]
    with pytest.raises(KeyError):
        splice_vars("/p/{missing}.json", {})


def test_location_parse_ext():
    assert Location.parse("/x/y.csv").ext == "csv"
    assert Location.parse("/x/y.parquet").ext == "parquet"
    assert Location.parse("/x/dir").ext is None


def test_serialset_default_and_merge():
    s = SerialSet(parquet_serial(), json_serial())
    assert s.default_ext == "parquet"
    assert set(s.exts()) == {"parquet", "json"}
    s2 = s.set_default("json")
    assert s2.default_ext == "json"
    merged = SerialSet(csv_serial()) | SerialSet(text_serial())
    assert merged.exts() == ["csv", "txt"]
    with pytest.raises(KeyError):
        s.for_ext("csv")


def test_compression_wrapping():
    gz = with_compression(csv_serial(), "gzip")
    assert gz.ext == "csvgz"
    assert gz.options["compression"] == "gzip"


def test_catalog_same_path_merge_and_conflict():
    c = Catalog([Dataset("a", SerialSet(parquet_serial()))])
    c.add(Dataset("a", SerialSet(json_serial())))
    assert set(c["a"].serials.exts()) == {"parquet", "json"}
    c2 = Catalog([Dataset("b", schema="x int")])
    with pytest.raises(ValueError):
        c2.add(Dataset("b", schema="x string"))


def test_bind_defaults_and_unknown_mapping(tmp_path):
    c = Catalog([Dataset("sub/users")])
    bound = c.bind(str(tmp_path))
    assert bound.locations("sub/users")[0].path == str(tmp_path / "sub/users.parquet")
    with pytest.raises(KeyError):
        c.bind(str(tmp_path), {"nope": "x.parquet"})


def test_bind_null_requires_default():
    src = Catalog([Dataset.source("cfg")])
    with pytest.raises(ValueError):
        src.bind(".", {"cfg": None})
    ok = Catalog([Dataset.source("cfg", embedded_default=[(1, "a")], schema="id long, v string")])
    ok.bind(".", {"cfg": None})  # no raise


def test_bind_validates_extensions():
    c = Catalog([Dataset("t")])  # parquet only
    with pytest.raises(KeyError):
        c.bind(".", {"t": "/x/t.csv"})


def test_roundtrip_write_read(spark, tmp_path):
    c = Catalog([Dataset("out", SerialSet(parquet_serial(), csv_serial()))])
    bound = c.bind(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    paths = bound.write(df, "out")
    assert paths == [str(tmp_path / "out.parquet")]
    back = bound.read(spark, "out")
    assert sorted(r.id for r in back.collect()) == [1, 2]


def test_write_all_layers_and_dead_sink(spark, tmp_path):
    c = Catalog([Dataset("dup"), Dataset("dead")])
    bound = c.bind(
        str(tmp_path),
        {
            "dup": [str(tmp_path / "l1.parquet"), str(tmp_path / "l2.parquet")],
            "dead": None,
        },
    )
    df = spark.createDataFrame([(1,)], "id long")
    assert len(bound.write(df, "dup")) == 2  # writes duplicate to every layer
    assert bound.write(df, "dead") == []  # unmapped sink: skipped
    assert os.path.exists(tmp_path / "l1.parquet")
    assert os.path.exists(tmp_path / "l2.parquet")


def test_layered_read_right_biased(spark, tmp_path):
    """PorcupineTree.hs:614-636: later layers win per key; embedded
    default is the base layer (:626)."""
    base = spark.createDataFrame([(1, "base"), (2, "base")], "id long, v string")
    over = spark.createDataFrame([(2, "override"), (3, "new")], "id long, v string")
    base.write.parquet(str(tmp_path / "base.parquet"))
    over.write.parquet(str(tmp_path / "over.parquet"))
    c = Catalog([Dataset("layered", schema="id long, v string",
                         embedded_default=[(0, "default")])])
    bound = c.bind(
        str(tmp_path),
        {"layered": [str(tmp_path / "base.parquet"), str(tmp_path / "over.parquet")]},
    )
    merged = {r.id: r.v for r in bound.read_merged(spark, "layered", key="id").collect()}
    assert merged == {0: "default", 1: "base", 2: "override", 3: "new"}


def test_read_merged_routes_layers_through_accessors(spark, tmp_path):
    """read_merged reads each layer like read does: a layer bound to a
    registered accessor is read through it, and a sink cannot be read."""
    from porcupine_spark.accessors import register_accessor, unregister_accessor

    store = {"mem://fixtures/over": [(2, "override"), (3, "new")]}

    def mem_read(spark_, path, serial, schema):
        return spark_.createDataFrame(store[path], schema=schema)

    spark.createDataFrame([(1, "base"), (2, "base")], "id long, v string") \
        .write.parquet(str(tmp_path / "base.parquet"))
    register_accessor("mem", read=mem_read)
    try:
        c = Catalog([Dataset("layered", schema="id long, v string"),
                     Dataset.sink("out")])
        bound = c.bind(
            str(tmp_path),
            {"layered": [str(tmp_path / "base.parquet"), "mem://fixtures/over"]},
        )
        merged = bound.read_merged(spark, "layered", key="id")
        assert {r.id: r.v for r in merged.collect()} == {
            1: "base", 2: "override", 3: "new"
        }
        with pytest.raises(ValueError, match="sink"):
            bound.read_merged(spark, "out", key="id")
    finally:
        unregister_accessor("mem")


def test_read_unmapped_falls_back_to_embedded(spark):
    c = Catalog([Dataset("opts", schema="k string, v long", embedded_default=[("a", 1)])])
    bound = c.bind(".", {"opts": None})
    rows = bound.read(spark, "opts").collect()
    assert rows[0].k == "a"


def test_zip_with_intersection_on_path():
    """apLocationTree (LocationTree.hs:98-101): zip two catalogs
    node-wise on their virtual-path intersection; non-matching branches
    are abandoned."""
    left = Catalog(
        [
            Dataset("inputs/users", schema="id long"),
            Dataset("inputs/only_left", schema="x long"),
            Dataset("outputs/report", schema="id long, v string"),
        ]
    )
    right = Catalog(
        [
            Dataset("inputs/users", schema="id long"),
            Dataset("outputs/report", schema="id long"),
            Dataset("outputs/only_right", schema="y long"),
        ]
    )
    pairs = left.zip_with(right)
    # intersection only, sorted by path; unmatched branches abandoned
    assert list(pairs) == ["inputs/users", "outputs/report"]
    assert pairs["inputs/users"] == (left["inputs/users"], right["inputs/users"])
    # the diff shape: where do the two pipelines disagree on schema?
    same_schema = left.zip_with(right, lambda a, b: a.schema == b.schema)
    assert same_schema == {"inputs/users": True, "outputs/report": False}


def test_config_data_dollar_layers(spark, tmp_path):
    """PorcupineTree.hs:495-503: the config ``data:`` section may
    declare per-layer values via ``{"$layers": [...]}``. Plain read()
    sees the layers' concatenation (list semigroup,
    VirtualFile.hs:377-397 sconcat); read_merged() applies the same
    right-biased per-key precedence as physical layers — later $layers
    entries override earlier ones, and physical layers override both."""
    c = Catalog([Dataset("layered", schema="id long, v string")])
    bound = c.bind(
        ".",
        data={
            "layered": {
                "$layers": [
                    [(1, "l0"), (2, "l0")],
                    [(2, "l1"), (3, "l1")],
                ]
            }
        },
    )
    # plain read: concatenation, all 4 rows
    assert bound.read(spark, "layered").count() == 4
    merged = {
        r.id: r.v for r in bound.read_merged(spark, "layered", key="id").collect()
    }
    assert merged == {1: "l0", 2: "l1", 3: "l1"}

    # physical layers still take precedence over ALL embedded layers
    over = spark.createDataFrame([(3, "phys"), (4, "phys")], "id long, v string")
    over.write.parquet(str(tmp_path / "over.parquet"))
    bound2 = c.bind(
        ".",
        {"layered": str(tmp_path / "over.parquet")},
        data={"layered": {"$layers": [[(1, "l0"), (2, "l0")], [(2, "l1"), (3, "l1")]]}},
    )
    merged2 = {
        r.id: r.v for r in bound2.read_merged(spark, "layered", key="id").collect()
    }
    assert merged2 == {1: "l0", 2: "l1", 3: "phys", 4: "phys"}

    # malformed $layers payloads are rejected at bind time
    with pytest.raises(ValueError):
        c.bind(".", data={"layered": {"$layers": "not-an-array"}})
    with pytest.raises(ValueError):
        c.bind(".", data={"layered": {"$layers": [123]}})
    with pytest.raises(ValueError):
        c.bind(".", data={"layered": {"other": []}})


def test_csv_serial_roundtrip_with_transforms(spark, tmp_path):
    """dimap/lmap/rmap: pre-write + post-read transforms compose
    (example0.1: one sink plain, one transformed)."""
    from pyspark.sql import functions as F

    ser = csv_serial(header=True).lmap(lambda df: df.withColumn("v", F.upper("v")))
    c = Catalog([Dataset("t", SerialSet(ser))])
    bound = c.bind(str(tmp_path), {"t": str(tmp_path / "t.csv")})
    df = spark.createDataFrame([(1, "ab")], "id string, v string")
    bound.write(df, "t")
    back = bound.read(spark, "t").collect()
    assert back[0].v == "AB"


def test_add_deserial_warnings(spark, tmp_path, caplog):
    """addDeserialWarnings (SerializationMethod.hs:726-733): post-read
    validation hook logs warnings, data passes through unchanged."""
    import logging

    from porcupine_spark.serials import add_deserial_warnings, parquet_serial

    def warn(df):
        n = df.filter("x < 0").count()
        return [f"{n} negative x values"] if n else []

    ser = add_deserial_warnings(SerialSet(parquet_serial()), warn)
    c = Catalog([Dataset("t", ser)])
    bound = c.bind(str(tmp_path), {"t": str(tmp_path / "t.parquet")})
    df = spark.createDataFrame([(1,), (-2,), (-3,)], "x long")
    bound.write(df, "t")
    with caplog.at_level(logging.WARNING, logger="porcupine_spark.serials"):
        back = bound.read(spark, "t")
        assert back.count() == 3  # data unchanged
    assert any("2 negative x values" in r.message for r in caplog.records)


def test_show_tree(tmp_path):
    c = Catalog([Dataset.source("in/a"), Dataset.sink("out/b")])
    tree = c.bind(str(tmp_path), {"out/b": None}).show_tree()
    assert "in/a (r-)" in tree
    assert "out/b (-w)" in tree
    assert "null" in tree


def test_yaml_serial_roundtrip(spark, tmp_path):
    """YAMLSerial (SerializationMethod.hs:309-383): a .yaml-bound
    dataset round-trips — rows out as a multi-document YAML stream,
    back in via distributed parse (+ single-pass from_json when the
    dataset declares a schema)."""
    from porcupine_spark.serials import yaml_serial

    c = Catalog([Dataset("y", SerialSet(yaml_serial()))])
    bound = c.bind(str(tmp_path), {"y": str(tmp_path / "y.yaml")})
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b: tricky", -1.0)], "id long, v string, x double"
    )
    bound.write(df, "y")
    back = bound.read(spark, "y")
    got = sorted((r.id, r.v, r.x) for r in back.collect())
    assert got == [(1, "a", 2.5), (2, "b: tricky", -1.0)]

    # explicit schema: parse is one from_json pass, no inference job
    from porcupine_spark.serials import YamlSerial

    ser = yaml_serial()
    assert isinstance(ser, YamlSerial)
    back2 = ser.read(spark, str(tmp_path / "y.yaml"), schema="id long, v string, x double")
    assert back2.count() == 2


def test_json_serial_custom_ext(spark, tmp_path):
    """JSONSerialWithExt (SerializationMethod.hs:283-296)."""
    from porcupine_spark.serials import json_serial

    ser = json_serial(ext="jsonl")
    c = Catalog([Dataset("j", SerialSet(ser))])
    bound = c.bind(str(tmp_path), {"j": str(tmp_path / "j.jsonl")})
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    bound.write(df, "j")
    assert bound.read(spark, "j").collect()[0].v == "a"


def test_s3a_configuration_and_catalog_binding(spark, tmp_path):
    """porcupine-s3 parity without a live bucket: configure_s3a sets the
    retry/credential posture on the Hadoop conf (honored by every
    subsequent s3a scan), and the catalog accepts an s3a:// location
    with extension-based serial resolution."""
    from porcupine_spark.sources.s3 import configure_s3a

    applied = configure_s3a(spark, retry_limit=5, retry_interval_ms=250)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.retry.limit") == "5"
    assert hconf.get("fs.s3a.retry.interval") == "250ms"
    assert "fs.s3a.retry.limit" in applied

    c = Catalog([Dataset("remote", SerialSet(parquet_serial(), csv_serial()))])
    bound = c.bind("/tmp", {"remote": "s3a://some-bucket/path/remote.csv"})
    locs = bound.locations("remote")
    assert locs[0].path.startswith("s3a://")
    assert locs[0].ext == "csv"


def test_folder_ops_via_hadoop_fs(spark, tmp_path):
    """upload/download/stream/copy folder ops (TaskPipelineUtils.hs:
    87-133) run through the Hadoop FileSystem API — the identical code
    path s3a:// takes, exercised here on file:// URIs."""
    from porcupine_spark.sources.s3 import (
        copy_obj,
        download_folder,
        stream_folder_uri,
        upload_folder,
    )

    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    (src / "a.txt").write_text("alpha")
    (src / "sub" / "b.txt").write_text("beta")

    dest_uri = f"file://{tmp_path}/remote"
    assert upload_folder(spark, str(src), dest_uri) == ["a.txt", "sub/b.txt"]
    assert stream_folder_uri(spark, dest_uri) == ["a.txt", "sub/b.txt"]

    back = tmp_path / "back"
    assert download_folder(spark, dest_uri, str(back)) == ["a.txt", "sub/b.txt"]
    assert (back / "sub" / "b.txt").read_text() == "beta"

    copy_obj(spark, dest_uri + "/a.txt", dest_uri + "/a2.txt")
    assert "a2.txt" in stream_folder_uri(spark, dest_uri)


def test_nested_tree_folder_inheritance(spark, tmp_path):
    """propagateMappings (Mappings.hs:182-224): folder mappings
    propagate to the subtree appending path segments; '_' shortcuts
    derive from the tree; a null folder unmaps its subtree; exact leaf
    mappings win."""
    c = Catalog(
        [
            Dataset("sub/a", SerialSet(parquet_serial())),
            Dataset("sub/deep/b", SerialSet(parquet_serial())),
            Dataset("sub/c", SerialSet(parquet_serial(), csv_serial())),
            Dataset("other/d", SerialSet(parquet_serial())),
            Dataset.sink("dead/e", SerialSet(parquet_serial())),
        ]
    )
    bound = c.bind(
        str(tmp_path),
        {
            "sub": f"{tmp_path}/moved",  # folder map: subtree relocates
            "sub/c": "_.csv",  # derive name from tree, override ext
            "dead": None,  # null folder: subtree unmapped
        },
    )
    assert bound.locations("sub/a")[0].path == f"{tmp_path}/moved/a.parquet"
    assert bound.locations("sub/deep/b")[0].path == f"{tmp_path}/moved/deep/b.parquet"
    c_loc = bound.locations("sub/c")[0]
    assert c_loc.path == f"{tmp_path}/moved/c.csv" and c_loc.ext == "csv"
    # unmapped dataset outside the folder: root fallback, unchanged
    assert bound.locations("other/d")[0].path == f"{tmp_path}/other/d.parquet"
    assert bound.locations("dead/e") is None

    # layered folder mapping: every dataset under it gets both layers
    two = c.bind(
        str(tmp_path), {"sub": [f"{tmp_path}/l1", f"{tmp_path}/l2"], "dead": None}
    )
    assert [loc.path for loc in two.locations("sub/a")] == [
        f"{tmp_path}/l1/a.parquet",
        f"{tmp_path}/l2/a.parquet",
    ]

    # round-trip through a folder-inherited location
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    bound.write(df, "sub/deep/b")
    assert bound.read(spark, "sub/deep/b").count() == 1


def test_bare_underscore_leaf_equals_unmapped(tmp_path):
    """A leaf mapped to exactly '_' derives the WHOLE location from the
    tree (Mappings.hs:142-160) — including the default extension — so it
    binds identically to leaving the leaf unmapped."""
    c = Catalog(
        [
            Dataset("x", SerialSet(parquet_serial())),
            Dataset("sub/y", SerialSet(parquet_serial(), csv_serial())),
        ]
    )
    mapped = c.bind(str(tmp_path), {"x": "_", "sub/y": "_"})
    unmapped = c.bind(str(tmp_path))
    for name in ("x", "sub/y"):
        assert [loc.path for loc in mapped.locations(name)] == [
            loc.path for loc in unmapped.locations(name)
        ]
    assert mapped.locations("x")[0].path == f"{tmp_path}/x.parquet"
    # '_' in a layered list: the bare output still gets the default ext,
    # the fully-specified layer keeps its own
    layered = c.bind(str(tmp_path), {"sub/y": ["_", f"{tmp_path}/alt/y.csv"]})
    assert [loc.path for loc in layered.locations("sub/y")] == [
        f"{tmp_path}/sub/y.parquet",
        f"{tmp_path}/alt/y.csv",
    ]


def test_http_locations_in_catalog(spark, tmp_path):
    """HTTP URLs as first-class catalog locations (porcupine-http
    HTTP.hs:58-92,127-153): a dataset bound to http://…/{var} loads
    through GET + the JSON serial, a sink bound to an http URL POSTs
    its serialized body, and a columnar serial on an http layer fails
    ahead-of-time (resolveDataAccess semantics)."""
    import http.server
    import json as _json
    import threading

    posted = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            ident = int(self.path.rstrip("/").rsplit("/", 1)[1])
            body = _json.dumps({"id": ident, "v": ident * 10}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            posted.append(self.rfile.read(n))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from porcupine_spark.serials import json_serial

        c = Catalog(
            [
                Dataset.source(
                    "inputs/item", SerialSet(json_serial()), schema="id long, v long"
                ),
                Dataset.sink("outputs/report", SerialSet(json_serial())),
            ]
        )
        bound = c.bind(
            str(tmp_path),
            {
                "inputs/item": f"http://127.0.0.1:{port}/api/{{itemId}}",
                "outputs/report": f"http://127.0.0.1:{port}/ingest",
            },
        )
        # single-location read with variable splicing
        df = bound.read(spark, "inputs/item", variables={"itemId": 3})
        assert df.collect()[0].asDict() == {"id": 3, "v": 30}
        # distributed fan-out over spliced URLs
        many = bound.read_many(
            spark, "inputs/item", [{"itemId": i} for i in (1, 2, 5)]
        )
        assert {r.v for r in many.collect()} == {10, 20, 50}
        # http sink: write POSTs the serialized document
        out = spark.createDataFrame([(1, 2)], "a long, b long")
        assert bound.write(out, "outputs/report") == [
            f"http://127.0.0.1:{port}/ingest"
        ]
        assert _json.loads(posted[0]) == {"a": 1, "b": 2}
        # ahead-of-time failure: parquet serial can't ride an http body
        with pytest.raises(ValueError, match="csv/json/text"):
            Catalog([Dataset.source("p", SerialSet(parquet_serial()))]).bind(
                str(tmp_path), {"p": f"http://127.0.0.1:{port}/p"}
            )
    finally:
        srv.shutdown()


def test_custom_ext_resolves_by_suffix(spark, tmp_path):
    """A dataset with a custom-extension serial (jsonl) bound to a
    matching path must resolve THAT serial by suffix — not fall through
    to the default (which would silently read jsonl as parquet)."""
    from porcupine_spark.serials import json_serial

    c = Catalog([Dataset("d", SerialSet(parquet_serial(), json_serial(ext="jsonl")))])
    bound = c.bind(str(tmp_path), {"d": str(tmp_path / "d.jsonl")})
    loc = bound.locations("d")[0]
    assert loc.ext == "jsonl"
    df = spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1)
    bound.write(df, "d")
    # the payload on disk is actual JSON lines, not parquet
    import glob

    payload = "".join(open(p).read() for p in glob.glob(f"{tmp_path}/d.jsonl/part*"))
    assert payload.startswith("{")
    assert bound.read(spark, "d").collect()[0].v == "a"


def test_yaml_kernel_roundtrip_property():
    """Property: any record of ints/floats/strings (newlines, colons,
    quotes, unicode, YAML-ish keywords) survives the YAML write/read
    kernels byte-exactly. Pure-python kernels — no Spark job per
    example, so hypothesis can actually explore."""
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from porcupine_spark.serials import record_to_yaml_doc, yaml_stream_to_json_lines

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    )
    record = st.fixed_dictionaries(
        {
            "id": st.integers(min_value=-(2**62), max_value=2**62),
            "v": text,
            "x": st.floats(allow_nan=False, allow_infinity=False, width=64),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(record, min_size=1, max_size=5))
    def run(recs):
        stream = "\n".join(record_to_yaml_doc(r) for r in recs)
        back = [json.loads(j) for j in yaml_stream_to_json_lines(stream)]
        assert back == recs

    run()


def test_pluggable_accessor_registry(spark, tmp_path):
    """Third-party storage backends plug in via register_accessor —
    the LocationAccessor typeclass surface (Accessors.hs:82-131): a
    toy in-memory scheme round-trips a catalog-bound dataset with NO
    catalog edits, its declared format restriction fails ahead of
    time like http's, and unregistering restores fall-through."""
    from porcupine_spark.accessors import (
        accessor_for,
        register_accessor,
        unregister_accessor,
        scheme_of,
    )
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.serials import SerialSet, json_serial, parquet_serial

    assert scheme_of("mem://fixtures/users") == "mem"
    assert scheme_of("/local/path.parquet") is None
    assert scheme_of("s3a://bucket/key") == "s3a"

    store = {}

    def mem_read(spark_, path, serial, schema):
        return spark_.createDataFrame(store[path], schema=schema)

    def mem_write(df, path, serial, mode):
        store[path] = [tuple(r) for r in df.collect()]

    register_accessor(
        "mem", read=mem_read, write=mem_write, formats=frozenset({"json"})
    )
    try:
        cat = Catalog(
            [Dataset("t", SerialSet(json_serial()), schema="a long, b string")]
        )
        bound = cat.bind(str(tmp_path), {"t": "mem://fixtures/t"})
        df = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
        assert bound.write(df, "t") == ["mem://fixtures/t"]
        assert store["mem://fixtures/t"] == [(1, "x"), (2, "y")]
        back = bound.read(spark, "t")
        assert sorted((r.a, r.b) for r in back.collect()) == [(1, "x"), (2, "y")]

        # format restriction validates ahead-of-time, same as http's
        with pytest.raises(ValueError, match="mem location"):
            Catalog(
                [Dataset("p", SerialSet(parquet_serial()))]
            ).bind(str(tmp_path), {"p": "mem://fixtures/p"})

        # http(s) itself is registered through this registry now
        assert accessor_for("http://x/y.json") is not None
        assert accessor_for("https://x/y.json").formats == frozenset(
            {"json", "csv", "text"}
        )
    finally:
        unregister_accessor("mem")
    assert accessor_for("mem://fixtures/t") is None
