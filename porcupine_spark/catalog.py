"""Resource catalog — the reference's virtual resource tree, and the
one path by which the engine reaches a dataset's data.

``Dataset`` ≙ ``VirtualFile`` (porcupine-core/src/Data/Locations/
VirtualFile.hs:98-107): a *logical* named resource with a serial set,
an optional schema, an optional embedded default (config-embedded
data, PorcupineTree.hs:440-503), and read/write capability flags
(``DataSource``/``DataSink`` = one-directional VirtualFiles,
VirtualFile.hs:280-286).

``Catalog`` ≙ the ``LocationTree`` (LocationTree.hs:74-84): virtual
paths (``"inputs/users"``) to datasets. Binding a catalog against
``LocationMappings`` (Mappings.hs:246-259 semantics) produces physical
locations: unmapped nodes inherit the root + their virtual path
(propagateMappings :182-224), mapped nodes take the bound location(s),
multiple locations = LAYERS (read = right-biased merge, write = all,
PorcupineTree.hs:602-636), ``None`` = explicitly unmapped (reads fall
back to the embedded default; writes are skipped — dead-sink pruning,
VirtualFileAccess.hs:309-313).

``BoundCatalog`` ≙ the ``DataAccessTree`` (PorcupineTree.hs:15-64):
every read or write of a dataset layer — ``read``, ``read_merged``,
``write`` and the tasks built on them (task.py, task_ext.py) — goes
through one per-layer step. It picks the layer's serial by extension
(``SerialsFor``), splices the path's ``{variables}`` (Loc.hs:55-78,
183-189; repetition indices, SURVEY §2.7, ride these), routes a
``scheme://`` path to its registered accessor (``LocationAccessor``,
accessors.py) and anything else to ``Serial.read``/``Serial.write``,
and logs the access. The serial and the storage backend are therefore
decided here and nowhere else.
"""

from __future__ import annotations

import functools
import logging
import os
import re
import time
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.accessors import accessor_for
from porcupine_spark.serials import Serial, SerialSet, parquet_serial

_VAR_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")
_access_log = logging.getLogger("porcupine_spark.access")


def splice_vars(template: str, variables: dict[str, Any]) -> str:
    """spliceLocVariables (Loc.hs:183-189): fill ``{var}``; unfilled
    variables are an error at access time (the reference leaves them
    until fully resolved; access requires fully-spliced paths)."""
    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in variables:
            raise KeyError(
                f"unbound path variable {name!r} in {template!r}; bound: {sorted(variables)}"
            )
        return str(variables[name])

    return _VAR_RE.sub(sub, template)


def template_vars(template: str) -> list[str]:
    return _VAR_RE.findall(template)


@dataclass(frozen=True)
class Dataset:
    """A logical dataset (VirtualFile analog)."""

    name: str  # virtual path, e.g. "inputs/users"
    serials: SerialSet = field(default_factory=lambda: SerialSet(parquet_serial()))
    schema: Any = None  # pyspark StructType or DDL string, enforced on read
    embedded_default: list | None = None  # rows for createDataFrame fallback
    # per-layer embedded rows when config data used {"$layers": [...]}
    # (PorcupineTree.hs:495-503); embedded_default then holds their
    # concatenation (the list semigroup, VirtualFile.hs:377-397) so
    # plain read() works unchanged while read_merged() keeps layer
    # precedence
    embedded_layers: tuple | None = None
    readable: bool = True
    writable: bool = True
    doc: str = ""

    @staticmethod
    def source(name: str, serials: SerialSet | None = None, **kw) -> "Dataset":
        """DataSource = VirtualFile NoWrite b (VirtualFile.hs:280-286)."""
        if serials is not None:
            kw["serials"] = serials
        return Dataset(name, writable=False, **kw)

    @staticmethod
    def sink(name: str, serials: SerialSet | None = None, **kw) -> "Dataset":
        """DataSink a = VirtualFile a NoRead."""
        if serials is not None:
            kw["serials"] = serials
        return Dataset(name, readable=False, **kw)

    def with_default(self, rows: list) -> "Dataset":
        return replace(self, embedded_default=rows)


@dataclass(frozen=True)
class Location:
    """One physical layer: a path template + extension override."""

    path: str
    ext: str | None = None  # None => dataset's default serial

    KNOWN_EXTS = frozenset(
        {"parquet", "json", "csv", "tsv", "txt", "bin", "yaml", "yml", "orc"}
    )

    @property
    def is_http(self) -> bool:
        """http(s) URLs are first-class locations (porcupine-http
        HTTP.hs:58-92: a RemoteFile Loc with GET read / POST write)."""
        return self.path.startswith(("http://", "https://"))

    @staticmethod
    def parse(spec: str, known=None) -> "Location":
        """``known`` extends the recognized extensions with the target
        dataset's own serial exts, so custom-extension serials (e.g.
        ``json_serial(ext='jsonl')``) resolve by path suffix instead of
        falling through to the default serial.  For http(s) URLs the
        extension is detected on the path part only (query/fragment
        stripped — HTTP.hs getURLType:139-143 takes getLocType of the
        URL), while the full URL stays the location path."""
        probe = spec
        if spec.startswith(("http://", "https://")):
            probe = spec.split("?", 1)[0].split("#", 1)[0]
        base, dot, ext = probe.rpartition(".")
        if (
            dot
            and "/" not in ext
            and (ext in Location.KNOWN_EXTS or (known and ext in known))
        ):
            return Location(spec, ext)
        return Location(spec, None)


class Catalog:
    """Virtual tree of datasets + the binding machinery."""

    def __init__(self, datasets: list[Dataset] | None = None):
        self._ds: dict[str, Dataset] = {}
        for d in datasets or []:
            self.add(d)

    def add(self, ds: Dataset) -> "Catalog":
        if ds.name in self._ds:
            # Semigroup VirtualFileNode (PorcupineTree.hs:188-192):
            # same-path nodes merge their serial sets; conflicting
            # schemas error (same-path different-type, :108-114).
            existing = self._ds[ds.name]
            if existing.schema is not None and ds.schema is not None and existing.schema != ds.schema:
                raise ValueError(
                    f"dataset {ds.name!r} declared twice with different schemas"
                )
            self._ds[ds.name] = replace(
                existing,
                serials=existing.serials | ds.serials,
                schema=existing.schema or ds.schema,
                readable=existing.readable or ds.readable,
                writable=existing.writable or ds.writable,
            )
        else:
            self._ds[ds.name] = ds
        return self

    def __or__(self, other: "Catalog") -> "Catalog":
        merged = Catalog(list(self._ds.values()))
        for d in other._ds.values():
            merged.add(d)
        return merged

    def __contains__(self, name: str) -> bool:
        return name in self._ds

    def __getitem__(self, name: str) -> Dataset:
        return self._ds[name]

    def names(self) -> list[str]:
        return sorted(self._ds)

    def zip_with(self, other: "Catalog", fn=None) -> dict:
        """apLocationTree (LocationTree.hs:98-101): node-wise zip of two
        catalogs on their VIRTUAL-PATH intersection — names present in
        only one catalog are ABANDONED, exactly the reference's
        ``HM.intersectionWith`` recursion (our names are flat
        slash-paths, so leaf intersection equals tree intersection).
        ``fn(a, b)`` combines the two Datasets; the default pairs them.
        The catalog introspection/diff utility:
        ``left.zip_with(right, lambda a, b: a.schema == b.schema)``
        answers 'where do these two pipelines disagree on shared
        resources'."""
        if fn is None:
            fn = lambda a, b: (a, b)  # noqa: E731
        return {
            name: fn(self._ds[name], other._ds[name])
            for name in sorted(set(self._ds) & set(other._ds))
        }

    def bind(
        self,
        root: str,
        mappings: dict[str, str | list[str] | None] | None = None,
        variables: dict[str, Any] | None = None,
        data: dict[str, list] | None = None,
    ) -> "BoundCatalog":
        """applyMappings (Mappings.hs:246-259): resolve every dataset to
        physical layers. Unmapped => root/<virtual path>.<default ext>
        (propagateMappings inheritance); a string or list => explicit
        layer(s); None => explicitly unmapped (null in the reference's
        YAML, PorcupineTree.hs:656-665).

        ``data`` is the config ``data:`` section
        (replaceWithDataFromConfig, PorcupineTree.hs:440-503): literal
        rows for a dataset, overriding its declared embedded default;
        a dataset with config data needs no physical mapping. A value
        of ``{"$layers": [rows, rows, ...]}`` declares PER-LAYER
        embedded data (getMergedLayersFromAesonValue,
        PorcupineTree.hs:495-503): plain reads see the layers'
        concatenation (the list semigroup — tryMergeLayersForVFile's
        sconcat, VirtualFile.hs:377-397) and ``read_merged`` applies
        the same right-biased per-key precedence as physical layers,
        later ``$layers`` entries overriding earlier ones."""
        mappings = dict(mappings or {})
        variables = variables or {}
        target: Catalog = self
        if data:
            unknown_data = set(data) - set(self._ds)
            if unknown_data:
                raise KeyError(f"config data for unknown datasets: {sorted(unknown_data)}")

            def with_config_data(name: str, ds: Dataset) -> Dataset:
                if name not in data:
                    return ds
                val = data[name]
                if isinstance(val, dict):
                    if set(val) != {"$layers"}:
                        raise ValueError(
                            f"config data for {name!r}: a dict value must be "
                            f"exactly {{'$layers': [...]}}, got keys {sorted(val)}"
                        )
                    layers = val["$layers"]
                    if not isinstance(layers, (list, tuple)) or not all(
                        isinstance(l, (list, tuple)) for l in layers
                    ):
                        raise ValueError(
                            f"config data for {name!r}: $layers must contain "
                            "an array of row arrays"
                        )
                    return replace(
                        ds,
                        embedded_default=[r for layer in layers for r in layer],
                        embedded_layers=tuple(list(l) for l in layers),
                    )
                return replace(ds, embedded_default=val, embedded_layers=None)

            # non-destructive: bind against a copy carrying the config rows
            target = Catalog(
                [with_config_data(name, ds) for name, ds in self._ds.items()]
            )
            for name in data:
                mappings.setdefault(name, None)
        bound: dict[str, list[Location] | None] = {}
        unknown = {
            k
            for k in mappings
            if k not in target._ds
            and not any(n.startswith(k.rstrip("/") + "/") for n in target._ds)
        }
        if unknown:
            raise KeyError(
                f"mappings for unknown datasets/folders: {sorted(unknown)} "
                f"(catalog has {target.names()})"
            )

        def apply_shortcuts(
            specs: list[str], inherited: list[str]
        ) -> list[tuple[str, bool]]:
            """Location shortcuts (Mappings.hs:142-160): '_' derives the
            whole location from the tree (keep inherited), '_.ext'
            overrides only the extension, '_rel/path' appends to the
            inherited prefix; anything else is a fully-specified
            location replacing the inherited layers.  Returns
            ``(path, bare)`` pairs: ``bare`` marks outputs of a bare
            ``'_'`` spec, which stay fully tree-derived — a leaf bound
            with ``'_'`` must be identical to an unmapped leaf, so those
            outputs still receive the dataset's default extension."""
            out: list[tuple[str, bool]] = []
            for s in specs:
                if s == "_":
                    out.extend((p, True) for p in inherited)
                elif s.startswith("_"):
                    rel = s[1:]
                    if rel.startswith("."):
                        out.extend((p + rel, False) for p in inherited)
                    else:
                        out.extend(
                            (os.path.join(p, rel.lstrip("/")), False) for p in inherited
                        )
                else:
                    out.append((s, False))
            return out

        for name, ds in target._ds.items():
            # propagateMappings (Mappings.hs:182-224): walk the virtual
            # path root-to-leaf carrying inherited physical layers; a
            # folder mapping rebinds the layers for its whole subtree
            # (appending each subsequent path segment), a null folder
            # recursively unmaps everything beneath it, and an exact
            # leaf mapping wins last.
            segs = name.split("/")
            layers = [root]
            explicit_leaf = False
            leaf_bare: list[bool] | None = None
            nulled = False
            path_so_far = ""
            for i, seg in enumerate(segs):
                path_so_far = seg if i == 0 else f"{path_so_far}/{seg}"
                layers = [os.path.join(p, seg) for p in layers]
                if path_so_far in mappings:
                    spec = mappings[path_so_far]
                    if spec is None:
                        nulled = True
                        break
                    specs = spec if isinstance(spec, list) else [spec]
                    pairs = apply_shortcuts(specs, layers)
                    layers = [p for p, _ in pairs]
                    if i == len(segs) - 1:
                        explicit_leaf = True
                        leaf_bare = [b for _, b in pairs]
            if nulled:
                bound[name] = None
                continue
            locs = [Location.parse(p, known=ds.serials.exts()) for p in layers]
            # derived leaves take the dataset's default extension (the
            # reference derives name+ext from the tree); outputs of a
            # bare '_' leaf spec are equally tree-derived and get it too
            fill = leaf_bare if explicit_leaf else [True] * len(locs)
            default_ext = ds.serials.default_ext
            locs = [
                Location(f"{loc.path}.{default_ext}")
                if bare and loc.ext is None
                else loc
                for loc, bare in zip(locs, fill)
            ]
            bound[name] = locs
        return BoundCatalog(target, bound, variables)


class BoundCatalog:
    """PhysicalTree + DataAccessTree (PorcupineTree.hs:15-64): datasets
    with resolved layers and read/write closures; validates
    extension/serial compatibility ahead of any execution
    (resolveDataAccess, PorcupineTree.hs:647-697)."""

    def __init__(self, catalog: Catalog, bound: dict, variables: dict[str, Any]):
        self.catalog = catalog
        self._bound = bound
        self.variables = dict(variables)
        self._validate()

    def _validate(self) -> None:
        for name, locs in self._bound.items():
            ds = self.catalog[name]
            if locs is None:
                if ds.readable and not ds.writable and ds.embedded_default is None:
                    raise ValueError(
                        f"readable dataset {name!r} mapped to null with no "
                        "embedded default (reference error: PorcupineTree.hs:656-665)"
                    )
                continue
            for loc in locs:
                serial = ds.serials.for_ext(loc.ext)  # raises if no serial for ext
                acc = accessor_for(loc.path)
                if acc is not None and acc.formats is not None and serial.format not in acc.formats:
                    # resolveDataAccess fails ahead-of-time on an
                    # access/serial mismatch (PorcupineTree.hs:647-697);
                    # e.g. an http body has no filesystem for columnar
                    # formats (formats declared by the accessor itself)
                    raise ValueError(
                        f"dataset {name!r}: {acc.scheme} location {loc.path!r} needs a "
                        f"{'/'.join(sorted(acc.formats))} serial, not {serial.format!r}"
                    )

    def locations(self, name: str) -> list[Location] | None:
        """getLocsMappedTo (VirtualFileAccess.hs:389-405)."""
        return self._bound[name]

    def reader(self, name: str, **kw):
        """getDataReader (VirtualFileAccess.hs:186-212): reify the read
        closure. Hashable on its bound locations for cache keys."""
        def do_read(spark: SparkSession, variables: dict | None = None) -> DataFrame:
            return self.read(spark, name, variables=variables, **kw)

        do_read.locations = [loc.path for loc in (self._bound[name] or [])]
        return do_read

    def writer(self, name: str, **kw):
        """getDataWriter: reify the write closure."""
        def do_write(df: DataFrame, variables: dict | None = None) -> list[str]:
            return self.write(df, name, variables=variables, **kw)

        do_write.locations = [loc.path for loc in (self._bound[name] or [])]
        return do_write

    def is_mapped(self, name: str) -> bool:
        return self._bound[name] is not None

    def _splice(self, path: str, extra_vars: dict | None) -> str:
        return splice_vars(path, {**self.variables, **(extra_vars or {})})

    def _source(self, name: str) -> Dataset:
        ds = self.catalog[name]
        if not ds.readable:
            raise ValueError(f"{name!r} is a sink (NoRead)")
        return ds

    def _read_layer(
        self, spark: SparkSession, ds: Dataset, loc: Location, variables: dict | None
    ) -> DataFrame:
        """One physical layer: its serial, its spliced path, read
        through the path's accessor if one is registered, else the
        serial; timed into the access log (clockVFileAccesses,
        VirtualFile.hs:400-401). The time covers planning and schema
        resolution; execution shows up at action time."""
        serial = ds.serials.for_ext(loc.ext)
        path = self._splice(loc.path, variables)
        t0 = time.perf_counter()
        acc = accessor_for(path)
        if acc is None:
            df = serial.read(spark, path, ds.schema)
        elif acc.read is None:
            raise ValueError(f"accessor {acc.scheme!r} is write-only; cannot read {path!r}")
        else:
            df = acc.read(spark, path, serial, ds.schema)
        _access_log.info("Read '%s' in %.3fs", path, time.perf_counter() - t0)
        return df

    def read(
        self, spark: SparkSession, name: str, variables: dict | None = None
    ) -> DataFrame:
        """loadData (VirtualFileAccess.hs:73-83): read all layers,
        right-biased merge (§1.4). Single layer: plain read. Multiple:
        unionByName with layer precedence — callers needing keyed
        last-wins semantics use read_merged."""
        ds = self._source(name)
        locs = self._bound[name]
        if locs is None:
            if ds.embedded_default is not None:
                return spark.createDataFrame(ds.embedded_default, schema=ds.schema)
            raise ValueError(f"{name!r} is unmapped and has no embedded default")
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [self._read_layer(spark, ds, loc, variables) for loc in locs],
        )

    def read_many(
        self,
        spark: SparkSession,
        name: str,
        variables_list: list[dict],
        timeout_s: float = 10.0,
    ) -> DataFrame:
        """Distributed repetition read over an http-bound dataset: one
        spliced URL per variables dict, fetched with the mapInPandas
        fan-out (the parMapTask-over-loadData topology of
        ExamplePokeAPI.hs:95-103, but the fetches run on executors, not
        one-at-a-time on a driver thread). Rows keep a ``url`` column
        for provenance. JSON serials only — the reference's HTTP APIs
        are JSON documents; filesystem layers should use ``read`` per
        index instead."""
        from porcupine_spark.sources.http import fetch_distributed, json_bodies_to_df

        ds = self._source(name)
        locs = self._bound[name]
        if not locs:
            raise ValueError(f"{name!r} is unmapped; read_many needs http layers")
        loc = locs[-1]  # right-biased: the overriding layer
        if not loc.is_http:
            raise ValueError(
                f"read_many is the http fan-out; {name!r} is bound to {loc.path!r} "
                "(use read(variables=...) per index for filesystem layers)"
            )
        serial = ds.serials.for_ext(loc.ext)
        if serial.format != "json":
            raise ValueError(f"read_many decodes JSON bodies, not {serial.format!r}")
        urls = [self._splice(loc.path, v) for v in variables_list]
        fetched = fetch_distributed(spark, urls, timeout_s=timeout_s)
        df = json_bodies_to_df(spark, fetched, schema=ds.schema)
        return serial.post_read(df) if serial.post_read else df

    def read_merged(
        self,
        spark: SparkSession,
        name: str,
        key: str,
        variables: dict | None = None,
    ) -> DataFrame:
        """Layered read with right-biased KEYED merge (LayeredReadScheme
        / PorcupineTree.hs:614-636): each layer is read as ``read``
        reads it, and later layers override earlier ones per key.
        Implemented as union + keep-last window."""
        from pyspark.sql import Window as W

        ds = self._source(name)
        dfs = []
        if ds.embedded_layers is not None:
            # config {"$layers": [...]}: each embedded layer keeps its
            # own precedence slot, later entries overriding earlier
            # ones exactly like physical layers
            for layer in ds.embedded_layers:
                dfs.append(spark.createDataFrame(layer, schema=ds.schema))
        elif ds.embedded_default is not None:
            dfs.append(spark.createDataFrame(ds.embedded_default, schema=ds.schema))
        for loc in self._bound[name] or []:
            dfs.append(self._read_layer(spark, ds, loc, variables))
        if not dfs:
            raise ValueError(f"{name!r}: no layers and no default")
        tagged = [
            df.withColumn("__layer", F.lit(i)) for i, df in enumerate(dfs)
        ]
        unioned = tagged[0]
        for t in tagged[1:]:
            unioned = unioned.unionByName(t, allowMissingColumns=True)
        w = W.partitionBy(key).orderBy(F.desc("__layer"))
        return (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__layer")
        )

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        variables: dict | None = None,
        partition_by: str | None = None,
    ) -> list[str]:
        """writeData (VirtualFileAccess.hs:126-136): write to ALL layers
        (PorcupineTree.hs:602-613); unmapped sink => no-op (dead-sink
        pruning, VirtualFileAccess.hs:309-313). Returns written paths.

        ``partition_by`` lays every value of that column out in its own
        ``<col>=<v>`` directory of each layer, in one job per layer
        (writeDataStream, VirtualFileAccess.hs:156-182). Every layer is
        checked before any is written: a layer whose accessor cannot
        write, or cannot hold such a layout (an accessor takes one
        body; a YAML serial writes one text column), is a ValueError
        naming the dataset."""
        ds = self.catalog[name]
        if not ds.writable:
            raise ValueError(f"{name!r} is a source (NoWrite)")
        layers = []
        for loc in self._bound[name] or []:  # None: dead sink, skip
            serial = ds.serials.for_ext(loc.ext)
            path = self._splice(loc.path, variables)
            acc = accessor_for(path)
            if acc is not None and acc.write is None:
                raise ValueError(f"accessor {acc.scheme!r} is read-only; cannot write {path!r}")
            if partition_by is not None and (acc is not None or not serial.partitionable):
                via = f"its {acc.scheme} accessor" if acc else f"its .{serial.ext} serial"
                raise ValueError(
                    f"dataset {name!r}: {path!r} cannot be partitioned by "
                    f"{partition_by!r}; {via} writes a single body"
                )
            layers.append((serial, path, acc))
        for serial, path, acc in layers:
            t0 = time.perf_counter()
            if acc is not None:
                acc.write(df, path, serial, mode)
            else:
                serial.write(df, path, mode=mode, partition_by=partition_by)
            _access_log.info("Wrote '%s' in %.3fs", path, time.perf_counter() - t0)
        return [path for _, path, _ in layers]

    def show_tree(
        self,
        types: bool = False,
        accesses: tuple[frozenset, frozenset] | None = None,
        mappings: bool = True,
        serials: bool = True,
        extensions: bool = True,
        num_chars: int = 60,
    ) -> str:
        """The `show-tree` CLI view (CLI.hs:393-427; display options =
        PhysicalFileNodeShowOpts, PorcupineTree.hs:205-241): one line
        per virtual path.  ``mappings`` appends the bound locations
        (``-m``); ``serials`` shows source/sink capability (hidden by
        ``-S/--no-serials``); ``extensions`` the possible file
        extensions (hidden by ``-E/--no-extensions``); ``types`` adds
        the declared schema truncated to ``num_chars`` chars
        (``-t``/``--num-chars``); ``accesses`` = (reads, writes) of the
        pipeline adds planned-access markers (``-a/--accesses``)."""
        lines = []
        for name in self.catalog.names():
            ds = self.catalog[name]
            line = name
            if serials:
                cap = ("r" if ds.readable else "-") + ("w" if ds.writable else "-")
                line += f" ({cap})"
            if extensions:
                line += f" [{','.join(ds.serials.exts())}]"
            if ds.embedded_default is not None:
                line += " +default"
            if accesses is not None:
                reads, writes = accesses
                marks = ("<read>" if name in reads else "") + (
                    "<write>" if name in writes else ""
                )
                line += f" {marks}" if marks else " <unused>"
            if mappings:
                locs = self._bound[name]
                locstr = "null" if locs is None else ", ".join(
                    loc.path + (f" [.{loc.ext}]" if loc.ext else "") for loc in locs
                )
                line += f" -> {locstr}"
            lines.append(line)
            if types and ds.schema is not None:
                shown = str(ds.schema)
                if len(shown) > num_chars:
                    shown = shown[:num_chars] + "…"
                lines.append(f"    :: {shown}")
        return "\n".join(lines)
