"""Serialization layer — the reference's ``SerialsFor`` bundles
(porcupine-core/src/Data/Locations/SerializationMethod.hs:606-650)
re-expressed as a format registry driving ``spark.read`` / ``df.write``.

A ``Serial`` maps a file extension to a Spark format + options and
optional pre-write / post-read DataFrame transforms (the profunctor
``dimap``/``lmap``/``rmap`` of the reference: SerializationMethod.hs:
642-679 — a transform prepended to a writer / appended to a reader).
``SerialSet`` is the semigroup of serials attached to one dataset
(``<>`` merges, first-added is the default extension — mirroring
``serialDefaultExt`` SerializationMethod.hs:609,653-654).

Compression wrapping (``addZlibSerials`` SerializationMethod.hs:
708-723) maps to Spark's per-format codec option.

Schema memo. A reference ``VirtualFile`` carries its read type, so a
load never looks at the data first. A parquet/ORC read without a
declared schema would otherwise run a Spark job to infer one from the
footers. ``Serial.read`` keeps what inference found in one process
memo and reads with that schema next time. The key holds what decides
the inferred schema:

- the format and its sorted options;
- the path and its stamp (newest mtime_ns and total bytes of every
  file under it, ``source_stamp``), so a rewritten or grown dataset
  misses;
- the session confs that type inferred columns (``_SCHEMA_CONFS``).

A miss is the ordinary inferring read; its ``df.schema`` is stored, so
the data is never read twice. Paths that cannot be stat'ed (remote
URIs) are not memoized. Writers do not seed the memo: a written
frame's schema can differ from what inference returns (a partition
column comes back with an inferred type). The memo holds metadata only
and is an LRU of ``SCHEMA_MEMO_SIZE`` entries.

Row-count memo. ``Serial.stored_rows`` gives the rows a parquet
dataset stores, summed from its file footers (no Spark job, no data
page read), memoized the same way under (path, ``source_stamp``).
Callers decide on it before any job whether a table is small enough
to collect whole.

Direct read. ``Serial.local_columns`` reads columns of a flat local
parquet dataset on the driver, file by file and record batch by record
batch, typed as Spark's ``toArrow`` of the same read would type them.
It answers only where the Spark read cannot differ (see its docstring);
elsewhere it gives None and the caller reads through Spark. Like the
footer sums, it lists the files a Spark listing keeps.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field, replace
from typing import Any, ClassVar

from pyspark.sql import DataFrame, DataFrameReader, SparkSession

Transform = Callable[[DataFrame], DataFrame]


@dataclass(frozen=True)
class Serial:
    """One (extension -> spark format) binding.

    Reference parity: JSONSerial/CSVSerial/PlainTextSerial/
    ByteStringSerial (SerializationMethod.hs:273-574). ``options``
    carry header/delimiter/compression (CSVSerial's fields, :445-453).
    """

    ext: str
    format: str  # spark datasource name: parquet/json/csv/text/binaryFile
    options: dict = field(default_factory=dict)
    pre_write: Transform | None = None  # lmap: applied before writing
    post_read: Transform | None = None  # rmap: applied after reading
    writable: bool = True
    readable: bool = True
    # whether a write can lay rows out by a partition column
    partitionable: ClassVar[bool] = True

    def with_options(self, **opts) -> "Serial":
        return replace(self, options={**self.options, **opts})

    def lmap(self, f: Transform) -> "Serial":
        """Prepend a pre-write transform (reference ``lmap``)."""
        prev = self.pre_write
        g = f if prev is None else (lambda df: prev(f(df)))
        return replace(self, pre_write=g)

    def rmap(self, f: Transform) -> "Serial":
        """Append a post-read transform (reference ``rmap``)."""
        prev = self.post_read
        g = f if prev is None else (lambda df: f(prev(df)))
        return replace(self, post_read=g)

    def read(self, spark: SparkSession, path: str, schema=None) -> DataFrame:
        """Read ``path``; without a declared schema a parquet/ORC read
        takes the memoized one (see the module docstring)."""
        if not self.readable:
            raise ValueError(f"serial for .{self.ext} is write-only")
        key = self._schema_key(spark, path) if schema is None else None
        if key is not None:
            schema = _SCHEMA_MEMO.get(key)
        reader: DataFrameReader = spark.read.format(self.format)
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        df = reader.load(path)
        if key is not None and schema is None:
            _SCHEMA_MEMO.put(key, df.schema)
        return self.post_read(df) if self.post_read else df

    def _schema_key(self, spark: SparkSession, path: str) -> tuple | None:
        if self.format not in _MEMO_FORMATS:
            return None
        stamp = source_stamp(path)
        if stamp is None:
            return None
        opts = tuple(sorted((k, str(v)) for k, v in self.options.items()))
        confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
        return (self.format, opts, path, stamp, confs)

    def stored_rows(self, path: str) -> int | None:
        """Rows stored under ``path``, from the parquet footers of the
        files a read would list (metadata only; see the module
        docstring). None for a path that cannot be stat'ed, a
        non-parquet serial, a serial with read options (a path filter
        could list other files) or a ``post_read`` transform (which
        could change the row count)."""
        if self.format != "parquet" or self.options or self.post_read is not None:
            return None
        stamp = source_stamp(path)
        if stamp is None:
            return None
        key = (path, stamp)
        n = _ROWS_MEMO.get(key)
        if n is None:
            n = _parquet_footer_rows(_local(path))
            if n is not None:
                _ROWS_MEMO.put(key, n)
        return n

    def local_columns(self, spark: SparkSession, path: str, cols):
        """Columns ``cols`` of the parquet dataset ``path``, read on the
        driver straight from its files (no Spark job), as a
        ``pyarrow.RecordBatchReader`` whose schema and values are those
        of Spark's ``read(...).select(*cols).toArrow()``; every field is
        nullable, as Spark's file scans make it. Files are read in name
        order, batch by batch, so a caller can stop part way.

        None wherever the Spark read could give something else: the
        ``stored_rows`` cases (no stat-able path, another format, read
        options, a ``post_read`` transform), a listing that is empty or
        holds partition directories (their columns come from the path),
        a column missing from a file or typed differently across files,
        and a type outside integer, floating, decimal, string, binary,
        boolean and date (timestamps are typed by session confs; binary
        is None too under ``binaryAsString``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.format != "parquet" or self.options or self.post_read is not None:
            return None
        if source_stamp(path) is None:
            return None
        listing = _parquet_listing(_local(path))
        if listing is None or listing[1] or not listing[0]:
            return None
        files = sorted(listing[0])
        try:
            schemas = [pq.read_schema(f) for f in files]
        except (OSError, pa.ArrowException):
            return None
        large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes", "false") == "true"
        as_string = spark.conf.get("spark.sql.parquet.binaryAsString", "false") == "true"
        fields = []
        for c in cols:
            idx = [s.get_field_index(c) for s in schemas]
            if min(idx) < 0 or len({s.field(i).type for s, i in zip(schemas, idx)}) > 1:
                return None
            t = _spark_arrow_type(schemas[0].field(idx[0]).type, large, as_string)
            if t is None:
                return None
            fields.append(pa.field(c, t))
        target = pa.schema(fields)

        def batches():
            for f in files:
                with pq.ParquetFile(f) as pf:
                    for batch in pf.iter_batches(columns=list(cols)):
                        yield batch.cast(target)

        return pa.RecordBatchReader.from_batches(target, batches())

    def write(
        self, df: DataFrame, path: str, mode: str = "overwrite", partition_by: str | None = None
    ) -> None:
        """Write ``df`` to ``path``; with ``partition_by``, each value of
        that column lands in its own ``<col>=<v>`` directory, one job."""
        if not self.writable:
            raise ValueError(f"serial for .{self.ext} is read-only")
        if self.pre_write:
            df = self.pre_write(df)
        writer = df.write.format(self.format).mode(mode).options(**self.options)
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.save(path)


class LRUMemo:
    """A process memo of metadata bounded to ``size`` entries, least
    recently used first out. Locked: concurrent builders
    (functions/concurrent.py) read through it from several threads."""

    def __init__(self, size: int):
        self.size = size
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: Hashable) -> Any:
        with self._lock:
            if key not in self._entries:
                return None
            self._entries.move_to_end(key)
            return self._entries[key]

    def put(self, key: Hashable, value: Any) -> None:
        with self._lock:
            self._entries[key] = value
            self._entries.move_to_end(key)
            while len(self._entries) > self.size:
                self._entries.popitem(last=False)

    def __len__(self) -> int:
        return len(self._entries)


def _local(path: str) -> str:
    """``path`` without a ``file://`` scheme."""
    return path[7:] if path.startswith("file://") else path


def source_stamp(path: str) -> tuple[int, int] | None:
    """(newest mtime_ns, total bytes) of a local file or of every file
    under a directory; None when it cannot be stat'ed (remote URI,
    glob, missing)."""
    p = _local(path)
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not os.path.isdir(p):
        return st.st_mtime_ns, st.st_size
    mtime, size = st.st_mtime_ns, 0
    for dirpath, _dirs, files in os.walk(p):
        for f in files:
            fst = os.stat(os.path.join(dirpath, f))
            mtime, size = max(mtime, fst.st_mtime_ns), size + fst.st_size
    return mtime, size


_MEMO_FORMATS = ("parquet", "orc")
# the confs that change an inferred parquet/ORC schema: timestamp and
# binary column typing, partition-column type inference, schema merging
# and the session time zone
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone",
)
SCHEMA_MEMO_SIZE = 256
_SCHEMA_MEMO = LRUMemo(SCHEMA_MEMO_SIZE)
_ROWS_MEMO = LRUMemo(SCHEMA_MEMO_SIZE)


def _listed(name: str) -> bool:
    """Whether a file-source listing keeps a file or directory name:
    Spark skips ``_``-prefixed names (but ``<col>=<v>`` partition
    directories), ``.``-prefixed ones and in-flight copies."""
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _parquet_listing(path: str) -> tuple[list[str], int] | None:
    """The files a Spark listing of the local ``path`` keeps, with the
    depth of ``<col>=<v>`` partition directories they sit at (0 for a
    file or a flat directory). None when the files do not all sit at
    one depth of partition directories: what the read makes of such a
    layout is the Spark read's to decide."""
    if not os.path.isdir(path):
        return [path], 0
    files, depths = [], set()
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if _listed(d)]
        listed = [os.path.join(dirpath, f) for f in names if _listed(f)]
        if listed:
            parts = [] if dirpath == path else os.path.relpath(dirpath, path).split(os.sep)
            if not all("=" in p for p in parts):
                return None
            depths.add(len(parts))
            files += listed
    if len(depths) > 1:
        return None
    return files, depths.pop() if depths else 0


def _parquet_footer_rows(path: str) -> int | None:
    """Sum of the footer row counts of the files ``_parquet_listing``
    keeps; None when it keeps no layout or a footer cannot be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    listing = _parquet_listing(path)
    if listing is None:
        return None
    try:
        return sum(pq.read_metadata(f).num_rows for f in listing[0])
    except (OSError, pa.ArrowException):
        return None


def _spark_arrow_type(t, large: bool, binary_as_string: bool):
    """The Arrow type Spark's ``toArrow`` gives a parquet column that
    pyarrow reads as ``t``, for the types ``Serial.local_columns``
    reads; None for any other. Unsigned integers widen in Spark, and
    ``large`` is ``spark.sql.execution.arrow.useLargeVarTypes``."""
    import pyarrow as pa

    if pa.types.is_dictionary(t):
        t = t.value_type
    if (
        pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_decimal128(t)
        or pa.types.is_boolean(t)
        or pa.types.is_date32(t)
    ):
        return t
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.large_string() if large else pa.string()
    if (pa.types.is_binary(t) or pa.types.is_large_binary(t)) and not binary_as_string:
        return pa.large_binary() if large else pa.binary()
    return None


# the built-in serial constructors (reference: SerializationMethod.hs)
def parquet_serial(**opts) -> Serial:
    return Serial("parquet", "parquet", opts)


def json_serial(ext: str = "json", **opts) -> Serial:
    """JSONSerial / JSONSerialWithExt (SerializationMethod.hs:283-296):
    same codec bound to a custom extension when ``ext`` is given."""
    return Serial(ext, "json", opts)


def csv_serial(header: bool = True, sep: str = ",", ext: str = "csv", **opts) -> Serial:
    """CSVSerial: ext + header flag + delimiter (SerializationMethod.hs:445-453)."""
    return Serial(ext, "csv", {"header": str(header).lower(), "sep": sep, **opts})


def text_serial(ext: str = "txt", **opts) -> Serial:
    return Serial(ext, "text", opts)


def binary_serial(ext: str = "bin") -> Serial:
    """ByteStringSerial (:516-538): read-only in Spark (binaryFile has no writer)."""
    return Serial(ext, "binaryFile", {}, writable=False)


def with_compression(serial: Serial, codec: str = "gzip") -> Serial:
    """addZlibSerials analog (:708-723): same serial, compressed payload,
    extension suffixed (<ext><codec-short>)."""
    short = {"gzip": "gz", "snappy": "sz", "zstd": "zst"}.get(codec, codec)
    return replace(
        serial, ext=f"{serial.ext}{short}", options={**serial.options, "compression": codec}
    )


class SerialSet:
    """Semigroup of serials for one dataset; first is the default ext."""

    def __init__(self, *serials: Serial):
        self._by_ext: dict[str, Serial] = {}
        for s in serials:
            self.add(s)

    def add(self, serial: Serial) -> "SerialSet":
        if serial.ext not in self._by_ext:
            self._by_ext[serial.ext] = serial
        else:  # right-biased per-ext override, like the reference's <>
            self._by_ext[serial.ext] = serial
        return self

    def __or__(self, other: "SerialSet") -> "SerialSet":
        merged = SerialSet()
        for s in [*self._by_ext.values(), *other._by_ext.values()]:
            merged.add(s)
        return merged

    @property
    def default_ext(self) -> str:
        return next(iter(self._by_ext))

    def exts(self) -> list[str]:
        return list(self._by_ext)

    def for_ext(self, ext: str | None) -> Serial:
        if ext is None:
            ext = self.default_ext
        if ext not in self._by_ext:
            raise KeyError(
                f"no (de)serializer for extension {ext!r}; have {self.exts()} "
                "(reference behavior: resolveDataAccess fails ahead-of-time, "
                "PorcupineTree.hs:667-694)"
            )
        return self._by_ext[ext]

    def set_default(self, ext: str) -> "SerialSet":
        """setDefaultSerial analog."""
        if ext not in self._by_ext:
            raise KeyError(ext)
        reordered = SerialSet()
        reordered.add(self._by_ext[ext])
        for e, s in self._by_ext.items():
            if e != ext:
                reordered.add(s)
        return reordered


@dataclass(frozen=True)
class YamlSerial(Serial):
    """YAMLSerial (SerializationMethod.hs:309-383): YAML as a DATA
    serial, not just config. Spark has no YAML datasource, so this
    rides the text source both ways, staying distributed:

    - write: each row becomes one ``---``-prefixed YAML document
      (Arrow-batched mapInPandas, pyyaml on the executors); partition
      files concatenate into a standard multi-document YAML stream;
    - read: ``wholetext`` per-file scan, executors parse the stream
      with ``safe_load_all`` and re-emit records as JSON strings; with
      an explicit schema the result is a single pass of ``from_json``
      (the 100 TB path); without one, Spark's distributed JSON schema
      inference runs (one extra pass — fine for the small interchange
      files YAML is for).
    """

    def read(self, spark: SparkSession, path: str, schema=None) -> DataFrame:
        import pandas as pd

        # NB: the option must ride the text() kwarg — DataFrameReader
        # .option("wholeText")...text() drops it in pyspark classic
        raw = spark.read.text(path, wholetext=True)

        def to_json_lines(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"value": [j for doc in pdf["value"] for j in yaml_stream_to_json_lines(doc)]}
                )

        jlines = raw.mapInPandas(to_json_lines, schema="value string")
        if schema is not None:
            from pyspark.sql import functions as F

            df = jlines.select(F.from_json("value", schema).alias("r")).select("r.*")
        else:
            df = spark.read.json(jlines.rdd.map(lambda r: r.value))
        return self.post_read(df) if self.post_read else df

    partitionable: ClassVar[bool] = False  # rows become one text column

    def write(
        self, df: DataFrame, path: str, mode: str = "overwrite", partition_by: str | None = None
    ) -> None:
        import pandas as pd

        if partition_by is not None:
            raise ValueError(f"serial for .{self.ext} cannot partition by {partition_by!r}")
        if self.pre_write:
            df = self.pre_write(df)

        def to_yaml_docs(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"value": [record_to_yaml_doc(rec) for rec in pdf.to_dict("records")]}
                )

        df.mapInPandas(to_yaml_docs, schema="value string").write.mode(mode).text(path)


def record_to_yaml_doc(rec: dict) -> str:
    """One row as a ``---``-prefixed YAML document (the write kernel).

    Deliberately NOT ``allow_unicode``: YAML 1.1 treats NEL (U+0085)
    and the U+2028/29 separators as line breaks, so emitting them raw
    is lossy (they fold to a space on read — found by the hypothesis
    round-trip test); the escaped form round-trips every code point."""
    import yaml

    return "---\n" + yaml.safe_dump(rec, sort_keys=False).rstrip("\n")


def yaml_stream_to_json_lines(doc: str) -> list[str]:
    """A (multi-)document YAML stream as JSON strings, one per record
    (the read kernel); a top-level list doc yields one per element."""
    import json as _json

    import yaml

    out: list[str] = []
    for rec in yaml.safe_load_all(doc):
        if rec is None:
            continue
        if isinstance(rec, list):
            out.extend(_json.dumps(r) for r in rec)
        else:
            out.append(_json.dumps(rec))
    return out


def yaml_serial(ext: str = "yaml") -> Serial:
    return YamlSerial(ext, "text", {})


def orc_serial(**opts) -> Serial:
    """ORC: the second columnar format (engine-level only — the DuckDB
    oracle corpus cannot read ORC, so parity is covered by tests)."""
    return Serial("orc", "orc", opts)


_warn_log = __import__("logging").getLogger("porcupine_spark.serials")


def add_deserial_warnings(target, warn: Callable[[DataFrame], list[str]]):
    """addDeserialWarnings (SerializationMethod.hs:726-733): attach a
    post-read validation hook to every reader; each string the hook
    returns is logged at WARNING and the data passes through unchanged.

    At scale the hook should compute its warnings with ONE small
    aggregate over the DataFrame (e.g. ``df.filter(bad).count()``),
    not per-row driver work — it runs once per read, as a separate
    validation job.
    """

    def hook(df: DataFrame) -> DataFrame:
        for w in warn(df):
            _warn_log.warning(w)
        return df

    if isinstance(target, SerialSet):
        out = SerialSet()
        for s in target._by_ext.values():
            out.add(s.rmap(hook) if s.readable else s)
        return out
    return target.rmap(hook)
