"""Connected components — cluster assignment over near-duplicate pairs.

The canonical post-dedup step: near-dup PAIRS (from LSH/Jaccard) must
become CLUSTERS (keep one doc per component). This is an iterative
algorithm Spark has no builtin for (GraphFrames isn't on the
classpath): implemented as minimum-label propagation — every node
repeatedly adopts the smallest label among itself and its neighbors
until a fixpoint. Convergence needs <= graph-diameter rounds; each
round is one join + one aggregate, all JVM-side; the driver only
checks the (scalar) changed-count per round. Near-dup graphs are
shallow (diameter is small), so rounds stay in single digits at any
corpus size; hot components behave like any skewed agg key (AQE/salt).
Small edge lists skip the rounds: see ``functions/driverstate.py``,
whose gate also routes k-core and PageRank to exact driver loops, and
below which ``dedup_clusters``, ``kcore_peel_parts`` and
``pagerank_supplier_graph`` build their edges on the driver as well.

Oracle: a DuckDB recursive CTE computing min reachable id per node —
an independent formulation of the same fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions import driverstate
from porcupine_spark.operators import dedup
from porcupine_spark.operators.dedup import SQL_SHINGLE_OVERLAP
from porcupine_spark.operators.text import py_tokens
from porcupine_spark.plans.registry import query

MAX_ROUNDS = 50  # backstop far above any real near-dup graph diameter


def _min_labels(ia, ib, n: int):
    """Each of ``n`` dense nodes' component as its smallest member,
    given edges ``ia``/``ib``: union-find in numpy, alternating a full
    shortcut (every node points at its root) with a hook (each root
    adopts the smallest root across its edges). Pointers only move to
    smaller ids, and a round that finds an edge between two roots
    lowers the larger one, so the loop ends; the hooks merge every
    root with a smaller neighbour at once, so near-dup graphs finish
    in a few rounds."""
    import numpy as np

    lab = np.arange(n)
    while True:
        nxt = lab[lab]
        while not np.array_equal(nxt, lab):
            lab, nxt = nxt, nxt[nxt]
        ra, rb = lab[ia], lab[ib]
        if np.array_equal(ra, rb):
            return lab
        lo = np.minimum(ra, rb)
        np.minimum.at(lab, ra, lo)
        np.minimum.at(lab, rb, lo)


def _union_find_components(spark: SparkSession, ids, ia, ib, node_type: str) -> DataFrame:
    """Exact driver-side components of a dense edge list (``ids``
    sorted, see ``driverstate.dense_ids``), re-distributed; component
    id = min member id, the distributed path's contract."""
    import pandas as pd

    comp = ids[_min_labels(ia, ib, len(ids))]
    return spark.createDataFrame(
        pd.DataFrame({"node": ids, "component": comp}),
        schema=f"node {node_type}, component {node_type}",
    )


def _first_of_run(*cols):
    """Mask of the rows of lexsorted equal-length numpy columns that
    differ from the row before in any column (the first row included):
    a sort-based distinct."""
    import numpy as np

    first = np.zeros(len(cols[0]), dtype=bool)
    first[:1] = True
    for c in cols:
        first[1:] |= c[1:] != c[:-1]
    return first


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """(src, dst) undirected edges -> (node, component) where component
    is the minimum node id in the connected component.

    Near-dup edge lists are the OUTPUT of LSH/threshold pruning, orders
    of magnitude smaller than the corpus. Up to
    ``driverstate.DRIVER_STATE_MAX_ROWS`` edges the components
    come from an exact driver-side numpy union-find (``_min_labels``)
    over the collected edges; above it, the distributed min-label
    propagation loop runs.

    Raises ``RuntimeError`` if the label-propagation loop exhausts
    ``max_rounds`` before the fixpoint: a silent return there would hand
    back WRONG components (labels still moving), and near-dup graphs
    converge in single digits, so exhaustion means the input is not the
    graph class this operator is tuned for (use a pointer-jumping
    variant for deep paths)."""
    # None-defaults resolve against the module globals at CALL time so
    # tests can monkeypatch the gates
    if max_rounds is None:
        max_rounds = MAX_ROUNDS
    # materialize the (possibly expensive) edge lineage ONCE — the loop
    # below joins against sym every round and must not recompute it
    edges, n_edges, table = driverstate.checkpoint_sized(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    )
    if table is not None:
        node_type = edges.schema["s"].dataType.simpleString()
        return _union_find_components(
            edges.sparkSession, *driverstate.dense_nodes(table, "s", "d"), node_type
        )
    # size the loop's partitioning to the GRAPH, not the session: the
    # label frontier is usually orders of magnitude smaller than the
    # corpus, and per-round fixed cost scales with partition count
    n_parts = max(2, min(32, n_edges // 50_000 + 2))
    nodes = (
        edges.select(F.col("s").alias("node"))
        .unionByName(edges.select(F.col("d").alias("node")))
        .distinct()
    )
    sym = (
        edges.select(F.col("s").alias("a"), F.col("d").alias("b"))
        .unionByName(edges.select(F.col("d").alias("a"), F.col("s").alias("b")))
        .distinct()
        .transform(driverstate.materialize)
    )
    labels = nodes.repartition(n_parts, "node").withColumn("component", F.col("node"))
    converged = False
    for _ in range(max_rounds):
        # each node adopts min(own label, neighbors' labels)
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        # NOTE: a pointer-jumping variant (follow component-of-component,
        # O(log d) rounds) was measured SLOWER here — near-dup graphs
        # have tiny diameters, so the extra join per round costs more
        # than the rounds it saves. Revisit only for deep graphs.
        # checkpoint FIRST (one materialization of the round's join), then
        # derive both the convergence scalar and the next labels from the
        # checkpointed rows — computing `changed` off the raw plan and
        # checkpointing afterwards would execute the join twice per round
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("nmin", F.col("component"))).alias(
                    "new_component"
                ),
                "component",
            )
            .transform(driverstate.materialize)
        )
        # one scalar to the driver per round: the convergence check
        changed = updated.filter(F.col("new_component") != F.col("component")).count()
        labels = updated.select("node", F.col("new_component").alias("component"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: label propagation did not converge in "
            f"{max_rounds} rounds ({n_edges} edges) — graph diameter exceeds "
            f"the near-dup-graph assumption; returning would yield wrong "
            f"components. Raise max_rounds or use a pointer-jumping variant."
        )
    return labels


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {SQL_SHINGLE_OVERLAP},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION SELECT dst, src FROM edges
    ),
    reach AS (
      SELECT a AS node, a AS r FROM sym
      UNION SELECT a, b FROM sym
      UNION
      SELECT reach.node, sym.b
      FROM reach JOIN sym ON sym.a = reach.r
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
    tags=("dedup", "graph", "iterative"),
    doc="Near-dup cluster assignment: word-3-gram Jaccard>=0.05 pairs "
    "as edges, connected components. Each doc's distinct shingles are "
    "derived on the driver from the documents parquet files, read "
    "batch by batch with no Spark job, and the read stops once they "
    f"pass {driverstate.DRIVER_STATE_MAX_ROWS:,}; a shingle is its "
    "exact token triple. Where the files cannot be read directly, the "
    "hashed shingle arrays of the documents scan are checkpointed once, "
    "sized by their total shingle count, and collected within the same "
    "gate. If the candidate pair count sum C(df_h, 2) over the "
    "informative shingles is also within that gate, overlap, Jaccard "
    "and an exact union-find run in numpy on the driver (one "
    "createDataFrame back). Past either gate the Spark path runs on "
    "the hashed arrays (the checkpoint where there is one), "
    "repartitioned to the session's parallelism: "
    "inverted-index self-join, then components "
    "by union-find (edges within the gate) or min-label propagation. "
    "Oracle = recursive-CTE transitive closure, an independent "
    "fixpoint formulation.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) over dedup_ngram_jaccard's edges. Below the
    gates (see the query doc) the whole step runs on the driver, where
    one machine beats the cluster's per-job fixed cost; past the pair
    gate the Spark overlap runs on the hashed shingle arrays (the
    checkpointed ones where the Spark path derived them)."""
    from pyspark.sql.pandas.types import from_arrow_type

    from porcupine_spark.tables import load_table

    def spark_arrays():
        return dedup.hashed_shingle_arrays(load_table(spark, sf_dir, "documents", widen=False))

    cutoff = dedup.hot_df_cutoff(dedup.corpus_n_docs(spark, sf_dir))
    arrays = None
    table = _doc_shingles_local(spark, sf_dir, driverstate.DRIVER_STATE_MAX_ROWS)
    if table is None:
        arrays, _, table = driverstate.checkpoint_sized(spark_arrays(), size=F.sum(F.size("arr")))
    if table is not None:
        overlap = dedup.shingle_overlap_local(
            table, cutoff, max_pairs=driverstate.DRIVER_STATE_MAX_ROWS
        )
        if overlap is not None:
            node_type = from_arrow_type(table.schema.field("doc_id").type).simpleString()
            return _near_dup_components_local(spark, overlap, node_type)
    # the unwidened scan may be one split: spread the explode and the
    # self-join over the session's cores (load_table's widening, paid
    # only past the gates)
    arrays = (spark_arrays() if arrays is None else arrays).repartition(
        spark.sparkContext.defaultParallelism
    )
    edges = dedup.overlap_jaccard(dedup.shingle_overlap(arrays, cutoff))
    return connected_components(edges, "doc_a", "doc_b").select("node", "component")


def _doc_shingles_local(spark: SparkSession, sf_dir: str, max_rows: int):
    """``hashed_shingle_arrays`` of ``documents`` derived on the driver
    from the direct read (``driverstate.local_batches``): an Arrow
    ``(doc_id, arr)`` table, ``arr`` the ids of each row's distinct
    word 3-grams of ``py_tokens`` (empty for a NULL, blank or 1-2-token
    text). A shingle's id stands for its exact token triple, as the
    oracle's string shingles do; Spark's xxhash64 of the triple differs
    only on a 64-bit collision. None when the direct read is
    unavailable or the shingles pass ``max_rows``; the read stops there,
    so at most one record batch past the gate is ever held."""
    from array import array

    import numpy as np
    import pyarrow as pa

    reader = driverstate.local_batches(spark, sf_dir, "documents", ("doc_id", "text"), max_rows)
    if reader is None:
        return None
    ids: dict[tuple[str, str, str], int] = {}
    doc_ids, flat, offsets = [], array("q"), array("i", [0])
    with reader:
        for batch in reader:
            for toks in map(py_tokens, batch.column("text").to_pylist()):
                grams = set(zip(toks, toks[1:], toks[2:])) if toks else ()
                flat.extend(ids.setdefault(g, len(ids)) for g in grams)
                if len(flat) > max_rows:
                    return None
                offsets.append(len(flat))
            doc_ids.append(batch.column("doc_id"))
    arr = pa.ListArray.from_arrays(
        np.frombuffer(offsets, np.int32), np.frombuffer(flat, np.int64)
    )
    doc_id = pa.chunked_array(doc_ids, reader.schema.field("doc_id").type)
    return pa.table({"doc_id": doc_id, "arr": arr})


def _near_dup_components_local(spark: SparkSession, overlap, node_type: str) -> DataFrame:
    """Components of the Jaccard >= MIN_JACCARD edges of a numpy
    ``shingle_overlap_local`` result. A zero denominator (possible
    only with duplicate doc_id rows) raises under ANSI and drops the
    pair otherwise, as the Spark division does."""
    import numpy as np

    doc_a, doc_b, i, na, nb = overlap
    den = na + nb - i
    zero = den == 0
    if zero.any() and spark.conf.get("spark.sql.ansi.enabled") == "true":
        raise ArithmeticError("dedup_clusters: [DIVIDE_BY_ZERO] zero Jaccard denominator")
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = i.astype(np.float64) / den
    keep = ~zero & (jac >= dedup.MIN_JACCARD)
    return _union_find_components(
        spark, *driverstate.dense_ids(doc_a[keep], doc_b[keep]), node_type
    )


@query(
    "dup_cluster_size_histogram",
    None,  # late-bound: composes dedup_clusters' recursive oracle
    tags=("dedup", "graph", "monitoring"),
    doc="Distribution of near-dup cluster sizes - the dedup-health "
    "report (a sudden spike in giant clusters means boilerplate or a "
    "crawler loop, not ordinary duplication). Composes dedup_clusters "
    "verbatim (builder AND oracle), groups nodes per component, then "
    "counts components per size: |distinct sizes| output rows, two "
    "narrowing aggregations past the clustering itself. The REGISTERED "
    "query measures the from-scratch (same-job) mode so its oracle "
    "composition can't drift; at 100 TB the report reads a "
    "MATERIALIZED cluster artifact instead of reclustering - "
    "cluster_size_histogram_from(spark.read.parquet(clusters_path)), "
    "pytest-pinned equal to this from-scratch result.",
)
def dup_cluster_size_histogram(spark, sf_dir):
    return cluster_size_histogram_from(dedup_clusters(spark, sf_dir))


def cluster_size_histogram_from(clusters):
    """The histogram body over a ``(node, component)`` assignment — the
    artifact path: feed it the MATERIALIZED clusters parquet (the
    examples/example_incremental.py pattern) so a 100 TB health report
    is two narrowing aggregations, not a reclustering."""
    from pyspark.sql import functions as F

    sizes = clusters.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


from porcupine_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["dup_cluster_size_histogram"].oracle = f"""
    WITH sizes AS (
      SELECT component, COUNT(*) AS cluster_size
      FROM ({_REG["dedup_clusters"].oracle}) c
      GROUP BY component
    )
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY cluster_size
"""


# --- integer-exact PageRank ------------------------------------------

PR_SCALE = 10**12  # rank fixed-point scale
PR_ITERS = 3  # fixed iteration count (unrolled verbatim in the oracle)
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio

# Broadcasting the |nodes|-sized (rank div degree) table into the edge
# scan is the right plan while that table is broadcast-sized; at true
# 100 TB node counts it is driver-fatal. Above this node count each
# round's rank->edge attach is a plain shuffled join instead (same
# arithmetic, identical exact-decimal result). Default
# ~10M nodes ≈ a 250 MB framed broadcast — the guide's §3.1 comfort
# ceiling. Read at call time, so tests can patch the constant.
PREGEL_BROADCAST_MAX_NODES = 10_000_000


def _pregel_contrib(edges: DataFrame, rd: DataFrame, broadcast_ranks: bool) -> DataFrame:
    """One PageRank round's rank→edge attach: broadcast the per-node
    contribution table below the node-count gate, plain shuffled join
    above it. Factored out so tests can pin BOTH plan shapes."""
    rd = F.broadcast(rd) if broadcast_ranks else rd
    return edges.join(rd, "src").select("dst", "c")


def _pagerank_local(spark: SparkSession, edges, node_type: str, iters: int) -> DataFrame:
    """``pagerank_scaled`` on the driver over an Arrow ``(src, dst)``
    table: the same update rule in exact int64 with the same truncating
    divisions. Every rank sum stays <= PR_SCALE (r0 * n <= PR_SCALE,
    and a round hands out at most the previous ranks' mass), so int64
    cannot overflow; the guard below fails loudly should that ever stop
    holding. Inflow sums use ``np.add.reduceat`` over dst-sorted edges,
    never ``bincount`` weights (float64, inexact past 2^53)."""
    import numpy as np
    import pandas as pd

    ids, src, dst = driverstate.dense_nodes(edges, "src", "dst")
    n = len(ids)
    schema = f"node {node_type}, rank_scaled bigint"
    if n == 0:
        return spark.createDataFrame(pd.DataFrame({"node": ids, "rank_scaled": []}), schema)
    deg = np.bincount(src, minlength=n)
    order = np.argsort(dst, kind="stable")
    src_by_dst, dst_sorted = src[order], dst[order]
    starts = np.flatnonzero(np.r_[True, dst_sorted[1:] != dst_sorted[:-1]])
    targets = dst_sorted[starts]
    teleport = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN) // n
    r = np.full(n, PR_SCALE // n, dtype=np.int64)
    for _ in range(iters):
        inflow = np.zeros(n, dtype=np.int64)
        inflow[targets] = np.add.reduceat(r[src_by_dst] // deg[src_by_dst], starts)
        if int(inflow.max()) * PR_DAMP_NUM + teleport >= 2**63:
            raise OverflowError("pagerank_scaled: rank state exceeds int64")
        r = teleport + PR_DAMP_NUM * inflow // PR_DAMP_DEN
    return spark.createDataFrame(pd.DataFrame({"node": ids, "rank_scaled": r}), schema)


def pagerank_scaled(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = PR_ITERS,
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank with EXACT integer fixed-point
    arithmetic (scale 1e12, truncating division — the repo's
    integer-ratio recipe, so every iterate is bit-identical across
    engines; ordinary float PageRank can't be exact-oracled because
    the inflow sum order differs). ``edges`` is (src, dst) directed;
    callers symmetrize if needed so no node dangles. Empty edges give
    an empty result.

    Up to ``driverstate.DRIVER_STATE_MAX_ROWS`` edges the iterations
    run on the driver in exact int64 (``_pagerank_local``). Above it,
    each iteration is one join + one aggregate (the standard
    distributed PR shape: at 100 TB this is the same shuffle pattern
    GraphX/Pregel uses); the driver sees one scalar (the node count)
    once."""
    from porcupine_spark.functions.concurrent import run_concurrently

    edges = edges.select("src", "dst")
    if not edges_distinct:  # callers that pre-dedup skip this shuffle
        edges = edges.distinct()
    # materialize the (possibly expensive) edge lineage ONCE — without
    # this every iteration re-reads and re-distincts the base tables
    # (measured 4x the whole query); degree and node tables then derive
    # from the checkpointed rows so the base is never recomputed
    edges, _, table = driverstate.checkpoint_sized(edges)
    node_type = edges.schema["src"].dataType.simpleString()
    if table is not None:
        return _pagerank_local(spark, table, node_type, iters)
    # degree table is |nodes| rows — materialize it small instead of
    # attaching it to a second |edges|-sized checkpoint; each round
    # joins it to the rank state (|nodes| x |nodes|, tiny) and
    # broadcasts the COMBINED (rank, degree) table into the edge scan
    # outdeg and nodes both derive from the checkpointed edges and are
    # independent of each other — materialize them concurrently
    # (optimization r8, guide §2.6) instead of as two sequential
    # blocking jobs
    outdeg, nodes = run_concurrently(
        lambda: edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(driverstate.materialize),
        lambda: edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(driverstate.materialize),  # reused every round + for n
    )
    n = nodes.count()  # one scalar to the driver (like components' guard)
    if n == 0:
        return spark.createDataFrame([], f"node {node_type}, rank_scaled bigint")
    # Size gate (optimization r8): broadcast the per-round |nodes|-sized
    # tables only while they are broadcast-sized; above the gate each
    # round's attach is a plain shuffled join. The edges are NOT
    # pre-partitioned on src (materialize drops hash partitioning), so
    # the edge side is shuffled every round either way. n is already on
    # the driver, so the gate is free.
    broadcast_ranks = n <= PREGEL_BROADCAST_MAX_NODES
    r0 = PR_SCALE // n
    teleport = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN) // n
    r = nodes.withColumn("r", F.lit(r0).cast("decimal(38,0)"))
    for _ in range(iters):
        # rank state is |nodes| rows — pre-divide by degree in a tiny
        # nodes-sized join, then broadcast so the edge table is never
        # shuffled per round
        # outdeg is |nodes|-sized like the rd broadcast below — hinting
        # it skips a per-round Exchange pair on two tiny tables that
        # AQE would otherwise shuffle first (optimization r7,
        # interleaved A/B 4.96 -> 4.28 s)
        deg = F.broadcast(outdeg) if broadcast_ranks else outdeg
        rd = r.withColumnRenamed("node", "src").join(deg, "src").select(
            "src", F.expr("r div d").alias("c")
        )
        contrib = _pregel_contrib(edges, rd, broadcast_ranks)
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"CAST({PR_DAMP_NUM} AS DECIMAL(38,0))"
                        f" * coalesce(s, CAST(0 AS DECIMAL(38,0))) div {PR_DAMP_DEN}"
                    )
                )
                .cast("decimal(38,0)")
                .alias("r"),
            )
            # lazy: 3.25 -> 3.08 s mean against eager (optimization r8)
            .transform(driverstate.materialize, eager=False)
        )
    return r.select("node", F.col("r").cast("long").alias("rank_scaled"))


def _pr_oracle_sql() -> str:
    """Unrolled PR_ITERS-iteration oracle: recursive CTEs can't carry
    an aggregate in the recursive term, so each iteration is its own
    CTE applying the identical integer update rule."""
    head = f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    edges AS (
      SELECT concat('c:', ck) AS src, concat('s:', sk) AS dst FROM pairs
      UNION ALL
      SELECT concat('s:', sk), concat('c:', ck) FROM pairs
    ),
    outdeg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM nodes),
    consts AS (
      SELECT CAST({PR_SCALE} AS HUGEINT) // n AS r0,
             (CAST({PR_SCALE} AS HUGEINT) * {PR_DAMP_DEN - PR_DAMP_NUM} // {PR_DAMP_DEN}) // n AS t
      FROM nc
    ),
    r0 AS (SELECT node, (SELECT r0 FROM consts) AS r FROM nodes)"""
    steps = []
    for k in range(1, PR_ITERS + 1):
        steps.append(f""",
    r{k} AS (
      SELECT n.node,
             (SELECT t FROM consts)
               + CAST({PR_DAMP_NUM} AS HUGEINT)
                 * COALESCE(SUM(p.r // o.d), 0) // {PR_DAMP_DEN} AS r
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r{k - 1} p ON p.node = e.src
      LEFT JOIN outdeg o ON o.src = e.src
      GROUP BY n.node
    )""")
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{PR_ITERS}"
    )


def _trade_pairs_local(li, orders, max_rows: int):
    """The distinct ``(ck, sk)`` of lineitem inner-joined to orders on
    orderkey, in numpy over the Arrow ``(l_orderkey, l_suppkey)`` and
    ``(o_orderkey, o_custkey)`` tables: a ``searchsorted`` probe of the
    sorted ``o_orderkey`` (duplicate keys allowed, rows with a NULL
    join key, ck or sk dropped, as on every path and in the oracle),
    then a sort-based distinct. None, leaving the Spark derivation to
    run, unless the join keys are integers and ck and sk int64 with
    |key| < 2^62 (the packed ids 2k and 2k+1 then fit
    in int64; past it the Spark path raises its ANSI overflow error),
    and unless the join size is within ``max_rows`` (checked before any
    joined row is built)."""
    import numpy as np
    import pyarrow as pa

    ck, sk = orders.column("o_custkey"), li.column("l_suppkey")
    if not (
        pa.types.is_integer(li.schema.field("l_orderkey").type)
        and pa.types.is_integer(orders.schema.field("o_orderkey").type)
        and pa.types.is_int64(ck.type)
        and pa.types.is_int64(sk.type)
    ):
        return None
    orders, li = orders.drop_null(), li.drop_null()
    ok, ck = orders.column("o_orderkey").to_numpy(), orders.column("o_custkey").to_numpy()
    lk, sk = li.column("l_orderkey").to_numpy(), li.column("l_suppkey").to_numpy()
    if any(((k <= -(2**62)) | (k >= 2**62)).any() for k in (ck, sk)):
        return None
    order = np.argsort(ok, kind="stable")
    ok, ck = ok[order], ck[order]
    lo = np.searchsorted(ok, lk, "left")
    hits = np.searchsorted(ok, lk, "right") - lo
    n = int(hits.sum())
    if n > max_rows:
        return None
    o_pos = np.repeat(lo - (np.cumsum(hits) - hits), hits) + np.arange(n)
    ck, sk = ck[o_pos], np.repeat(sk, hits)
    order = np.lexsort((sk, ck))
    ck, sk = ck[order], sk[order]
    first = _first_of_run(ck, sk)
    return ck[first], sk[first]


def _supplier_graph_ranks_local(spark: SparkSession, sf_dir: str):
    """``pagerank_supplier_graph``'s packed-id ranks on the driver when
    both base tables are within the driver-state gate (decided from
    their stored rows before any job) and ``_trade_pairs_local``
    derives the pairs; else None."""
    import numpy as np
    import pyarrow as pa

    li = driverstate.collect_small_table(spark, sf_dir, "lineitem", ("l_orderkey", "l_suppkey"))
    if li is None:
        return None
    orders = driverstate.collect_small_table(spark, sf_dir, "orders", ("o_orderkey", "o_custkey"))
    if orders is None:
        return None
    pairs = _trade_pairs_local(li, orders, driverstate.DRIVER_STATE_MAX_ROWS)
    if pairs is None:
        return None
    c, s = pairs[0] * 2, pairs[1] * 2 + 1
    edges = pa.table({"src": np.concatenate([c, s]), "dst": np.concatenate([s, c])})
    return _pagerank_local(spark, edges, "bigint", PR_ITERS)


@query(
    "pagerank_supplier_graph",
    None,  # assigned below (unrolled-iteration SQL)
    tags=("graph", "iterative"),
    doc=f"PageRank over the customer-supplier trade graph (edges both "
    f"directions per distinct (customer, supplier) lineitem "
    f"relationship), {PR_ITERS} fixed iterations, damping "
    f"{PR_DAMP_NUM}/{PR_DAMP_DEN}, EXACT integer fixed-point at scale "
    f"1e12 - truncating-division arithmetic makes every iterate "
    f"bit-identical across engines, so an ITERATIVE GRAPH ALGORITHM "
    f"gets a full hash oracle (unrolled-CTE formulation) instead of "
    f"the usual rows-only check. When lineitem and orders each store "
    f"at most {driverstate.DRIVER_STATE_MAX_ROWS:,} rows (read from the "
    f"parquet footers before any job), their key columns are read "
    f"straight from the parquet files (one Arrow collect each where "
    f"that read is unavailable) and the whole query runs on the driver: a "
    f"numpy searchsorted join on orderkey (its size also within that "
    f"gate), a sort-based distinct, packed int64 ids and the "
    f"iterations in exact int64 (the same truncating divisions). "
    f"Otherwise the trade edges are derived in Spark and checkpointed "
    f"once; up to the gate they are iterated on the driver, above it "
    f"each iteration is one join + one aggregate (the Pregel shuffle "
    f"shape), lineage truncated per round via localCheckpoint.",
)
def pagerank_supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.tables import load_table

    # node ids are PACKED LONGS inside the loop (customer 2k, supplier
    # 2k+1), not 'c:<k>'/'s:<k>' strings: the per-iteration shuffle rows
    # are (node, rank) pairs, so with string ids the shuffle mass is
    # O(E * digits(key)) — measured on the synthetic 10x corpus (whose
    # key stride lengthens every id to 8+ digits), string keys grew
    # bytes 14.5x for 10x edges (nobcast A/B 14.6x, edge count exactly
    # 10.0x, avg key bytes 11.1 -> 19.1 = 1.71x). Fixed-width longs make
    # shuffle mass track EDGE COUNT alone; labels are restored by one
    # final projection that never shuffles.
    ranked = _supplier_graph_ranks_local(spark, sf_dir)
    if ranked is None:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
            .filter(F.col("ck").isNotNull() & F.col("sk").isNotNull())
            .distinct()
        )
        edges = pairs.select(
            (F.col("ck") * 2).alias("src"), (F.col("sk") * 2 + 1).alias("dst")
        ).unionByName(
            pairs.select(
                (F.col("sk") * 2 + 1).alias("src"), (F.col("ck") * 2).alias("dst")
            )
        )
        # pairs is already distinct and the two directions are disjoint
        ranked = pagerank_scaled(spark, edges, edges_distinct=True)
    return ranked.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c:"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "rank_scaled",
    )


from porcupine_spark.plans.registry import REGISTRY as _REG2  # noqa: E402

_REG2["pagerank_supplier_graph"].oracle = _pr_oracle_sql()


@query(
    "dedup_keep_best_quality",
    None,  # late-bound: composes dedup_clusters' and quality_score's oracles
    tags=("dedup", "graph", "quality"),
    doc="Quality-aware canonical selection: within every near-dup "
    "cluster keep the HIGHEST-quality member (heuristic quality score, "
    "doc_id tiebreak) instead of dedup_keep_canonical's keep-first "
    "policy - the curation-grade dedup, since boilerplate-heavy copies "
    "often have smaller ids than the clean original. One row_number "
    "window over cluster members (cluster table is LSH output, orders "
    "of magnitude smaller than the corpus) and one UNHINTED anti-join "
    "of the corpus against the dropped set — the dropped set is "
    "O(dup_rate * corpus) at real crawl dup rates, so a forced "
    "broadcast would OOM at 100 TB; AQE broadcasts only when the "
    "runtime size is genuinely small, else shuffles on doc_id. "
    "Oracle composes the "
    "clustering's recursive CTE and the quality score's SQL verbatim, "
    "so policy, cluster definition, and score can never drift apart.",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.text import quality_score
    from porcupine_spark.tables import load_table
    from pyspark.sql import Window as W

    clusters = dedup_clusters(spark, sf_dir)
    q = quality_score(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "quality"
    )
    member = clusters.join(q, "node")
    wq = W.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("node")
    )
    dropped = (
        member.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") > 1)
        .select(F.col("node").alias("doc_id"))
    )
    docs = load_table(spark, sf_dir, "documents")
    # Deliberately unhinted (see docstring): dropped ~ dup_rate * |corpus|.
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


from porcupine_spark.operators import text as _text  # noqa: E402,F401  (registers quality_score before composition)

_REG2["dedup_keep_best_quality"].oracle = f"""
    WITH clus AS ({_REG2["dedup_clusters"].oracle}),
    q AS (SELECT doc_id, quality FROM ({_REG2["quality_score"].oracle})),
    member AS (
      SELECT c.node, c.component, q.quality
      FROM clus c JOIN q ON q.doc_id = c.node
    ),
    ranked AS (
      SELECT node, component,
             row_number() OVER (PARTITION BY component
                                ORDER BY quality DESC, node) AS rn
      FROM member
    ),
    dropped AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM dropped)
"""


# ---------------------------------------------------------------------------
# Triangle counting / local clustering coefficient (degree orientation)

TRI_MIN_SUPPORT = 2  # an edge = co-purchased in >= 2 distinct orders
TRI_LCC_SCALE = 1_000_000  # lcc as exact parts-per-million (integer recipe)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase part edges (u < v, support >= TRI_MIN_SUPPORT)
    — the edge base shared by triangle_count_parts and kcore_peel_parts.

    One exchange feeds the whole derivation (optimization r8, guide
    §2.4): repartition the (orderkey, partkey) scan by l_orderkey FIRST.
    HashPartitioning(ok) satisfies both the distinct's clustering on
    (ok, pk) — every duplicate pair lands in one partition — and the
    self-join's clustering on ok, and the join's two inputs are the
    same subplan so the one exchange is physically reused. The former
    shape paid Exchange(ok, pk) for the distinct and then Exchange(ok)
    again for the join (2 items-sized shuffles -> 1). The trade: the
    repartition shuffle carries raw lineitem rows instead of
    map-side-deduped pairs, but a part rarely repeats within one order
    (sf0.1: <1% duplicates), so the extra rows are noise against the
    whole removed exchange. Row set is identical — repartitioning
    commutes with distinct — so both consumers' oracle hashes are
    unchanged."""
    from porcupine_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
    )


def _copurchase_edges_local(items, max_pairs: int):
    """``_copurchase_edges`` in numpy over an Arrow ``(l_orderkey,
    l_partkey)`` table: ``(u, v)`` arrays, or None for non-integer keys
    or when the within-order pair count sum C(k, 2) over the distinct
    items exceeds ``max_pairs`` (checked before any pair is built).
    Rows with a NULL key drop out, as the Spark join and ``u < v`` drop
    them."""
    import numpy as np
    import pyarrow as pa

    if not all(pa.types.is_integer(f.type) for f in items.schema):
        return None
    items = items.drop_null()
    ok = items.column("l_orderkey").to_numpy()
    pk = items.column("l_partkey").to_numpy()
    order = np.lexsort((pk, ok))
    ok, pk = ok[order], pk[order]
    first = _first_of_run(ok, pk)
    ok, pk = ok[first], pk[first]
    starts = np.flatnonzero(_first_of_run(ok))
    sizes = np.diff(np.r_[starts, len(ok)])
    n_pairs = int((sizes * (sizes - 1) // 2).sum())
    if n_pairs > max_pairs:
        return None
    # each item pairs with the larger parts after it in its order
    after = np.repeat(starts + sizes, sizes) - 1 - np.arange(len(ok))
    left = np.repeat(np.arange(len(ok)), after)
    right = left + 1 + np.arange(n_pairs) - np.repeat(np.cumsum(after) - after, after)
    u, v = pk[left], pk[right]
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    starts = np.flatnonzero(_first_of_run(u, v))
    support = np.diff(np.r_[starts, len(u)])
    keep = starts[support >= TRI_MIN_SUPPORT]
    return u[keep], v[keep]


def triangle_counts(edges: DataFrame, scale: int = TRI_LCC_SCALE) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over an undirected simple graph given as DISTINCT canonical edges
    ``(u, v)`` with ``u < v``.

    The degree-orientation algorithm (Suri & Vassilvitskii's MR-friendly
    node-iterator; also Cohen 2009): orient every edge from its lower
    (degree, id) endpoint to the higher, generate wedges only from each
    node's OUT-edges, and close them against the oriented edge list.
    Every triangle is emitted exactly once, at its lowest-rank corner.

    Why this survives 100x: out-degree under this orientation is at most
    O(sqrt(m)) for ANY graph — a celebrity node with 10^7 neighbors gets
    almost no out-edges (its neighbors mostly out-rank to it), so the
    wedge fan-out is bounded by sum C(outdeg, 2) = O(m^1.5) total work,
    immune to degree skew that would square the hot key in a naive
    neighbor-join. All joins are plain hash joins on node/edge keys.

    lcc_ppm = floor(2 * triangles * scale / (deg * (deg - 1))) — exact
    integer truncating division (the repo's cross-engine-exact ratio
    recipe), 0 for degree < 2.
    """
    edges = edges.select("u", "v").transform(driverstate.materialize)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(driverstate.materialize)  # reused: rank join + final output
    )
    # total orientation order: r = deg * 2^32 + node (ties broken by id).
    # The packing requires node ids < 2^32 — an id past that would bleed
    # into the degree field and SILENTLY mis-orient edges, so violations
    # fail loudly instead (a string-keyed graph would rank by
    # (deg, xxhash64(node)) instead, same shape).
    guarded_node = F.when(
        (F.col("node") >= 0) & (F.col("node") < F.lit(2**32)), F.col("node")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("triangle orientation rank requires 0 <= node id < 2^32, got "),
                F.col("node").cast("string"),
            )
        )
    )
    rk = deg.select(
        "node", (F.col("deg").cast("long") * F.lit(2**32) + guarded_node).alias("r")
    )
    er = (
        edges.join(rk.select(F.col("node").alias("u"), F.col("r").alias("ru")), "u")
        .join(rk.select(F.col("node").alias("v"), F.col("r").alias("rv")), "v")
        .select(
            F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("d"),
            F.greatest("ru", "rv").alias("rd"),
        )
        .transform(driverstate.materialize)  # scanned 3x (two wedge sides + close)
    )
    x, y = er.alias("x"), er.alias("y")
    wedges = (
        x.join(y, (F.col("x.s") == F.col("y.s")) & (F.col("x.rd") < F.col("y.rd")))
        .select(
            F.col("x.s").alias("tu"), F.col("x.d").alias("tv"), F.col("y.d").alias("tw")
        )
    )
    # close each wedge against the oriented edges: since rank(tv) <
    # rank(tw), the closing edge — if present — is stored as (tv, tw)
    tri = wedges.join(
        er.select(F.col("s").alias("tv"), F.col("d").alias("tw")), ["tv", "tw"], "left_semi"
    )
    corners = (
        tri.select(F.col("tu").alias("node"))
        .unionByName(tri.select(F.col("tv").alias("node")))
        .unionByName(tri.select(F.col("tw").alias("node")))
    )
    tc = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    out = deg.join(tc, "node", "left").select(
        "node",
        F.col("deg").alias("degree"),
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            F.expr(
                # decimal(38,0) numerator: matches the oracle's HUGEINT
                # widening — int64 would overflow past ~4.6e12 triangles
                f"(CAST(2 AS DECIMAL(38,0)) * coalesce(triangles, 0)"
                f" * CAST({scale} AS BIGINT)) div (deg * (deg - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lcc_ppm"),
    )
    return out


@query(
    "triangle_count_parts",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    ),
    rk AS (SELECT node, deg * 4294967296 + node AS r FROM deg),
    er AS (
      SELECT CASE WHEN ru.r < rv.r THEN e.u ELSE e.v END AS s,
             CASE WHEN ru.r < rv.r THEN e.v ELSE e.u END AS d,
             GREATEST(ru.r, rv.r) AS rd
      FROM e JOIN rk ru ON ru.node = e.u JOIN rk rv ON rv.node = e.v
    ),
    tri AS (
      SELECT x.s AS tu, x.d AS tv, y.d AS tw
      FROM er x JOIN er y ON y.s = x.s AND x.rd < y.rd
      WHERE EXISTS (SELECT 1 FROM er z WHERE z.s = x.d AND z.d = y.d)
    ),
    corners AS (
      SELECT tu AS node FROM tri
      UNION ALL SELECT tv AS node FROM tri
      UNION ALL SELECT tw AS node FROM tri
    ),
    tc AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY node)
    SELECT d.node AS part_key, d.deg AS degree,
           COALESCE(tc.triangles, 0) AS triangles,
           CASE WHEN d.deg >= 2 THEN
             CAST((2 * COALESCE(tc.triangles, 0) * CAST({TRI_LCC_SCALE} AS HUGEINT))
                  // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT)
           ELSE 0 END AS lcc_ppm
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    """,
    tags=("graph",),
    doc="Exact triangle count + local clustering coefficient per part "
    "over the co-purchase graph (parts co-ordered in >= 2 distinct "
    "orders). Degree-orientation node-iterator: wedges generated only "
    "from out-edges under the (deg, id) total order, so total work is "
    "O(m^1.5) for ANY degree distribution — the skew-immune MapReduce "
    "triangle algorithm (Suri-Vassilvitskii). Edge derivation fan-out "
    "is per-basket (C(basket,2)), same bound as basket_pair_lift. "
    "lcc as exact ppm via truncating integer division.",
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts(_copurchase_edges(spark, sf_dir)).withColumnRenamed(
        "node", "part_key"
    )


# ---------------------------------------------------------------------------
# k-core peel (onion decomposition, fixed rounds)

KCORE_K = 3
KCORE_ROUNDS = 6  # fixed on BOTH engines — the op is "R-round k-peel"


def _kcore_local(spark: SparkSession, edges, node_type: str, k: int, rounds: int) -> DataFrame:
    """``kcore_peel`` on the driver over an Arrow ``(u, v)`` table: per
    round a ``bincount`` degree over the live edges, victims are the
    present nodes with degree < k, and their edges die; the same sweep
    as the distributed path assigns ``rounds`` to nodes whose last edge
    died with a neighbour."""
    import numpy as np
    import pandas as pd

    ids, u, v = driverstate.dense_nodes(edges, "u", "v")
    n = len(ids)
    removed = np.zeros(n, dtype=np.int32)
    live = np.ones(len(u), dtype=bool)
    for rnd in range(1, rounds + 1):
        deg = np.bincount(u[live], minlength=n) + np.bincount(v[live], minlength=n)
        victim = (deg > 0) & (deg < k)
        removed[victim] = rnd
        live &= ~(victim[u] | victim[v])
    survivor = np.zeros(n, dtype=bool)
    survivor[u[live]] = True
    survivor[v[live]] = True
    removed[(removed == 0) & ~survivor] = rounds
    return spark.createDataFrame(
        pd.DataFrame({"node": ids, "removed_round": removed, "in_core": removed == 0}),
        f"node {node_type}, removed_round int, in_core boolean",
    )


def kcore_peel(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Fixed-round k-core peeling of an undirected simple graph given
    as distinct canonical edges ``(u, v)``: round i removes every node
    whose degree in the surviving subgraph is < k. Returns one row per
    node: ``(node, removed_round, in_core)`` with removed_round = 0
    for survivors; empty edges give an empty result.

    The classic graph-curation primitive (web-spam farms and
    link-rings dissolve under peeling; the k-core is the "load-bearing"
    subgraph). A full coreness fixpoint has data-dependent round count
    — unbounded rounds can't be exact-oracled — so like pagerank the
    op fixes the round budget on both engines; tests assert the peel
    CONVERGES well inside the budget on real inputs (a converged
    R-round peel IS the true k-core).

    Up to ``driverstate.DRIVER_STATE_MAX_ROWS`` edges the peel runs on
    the driver (``_kcore_local``, numpy ``bincount`` degrees). Above
    it, each round is one degree agg + one semi-join filter over the
    surviving edges, lineage truncated per round; survivors shrink
    monotonically so rounds get cheaper, and the driver sees no data
    at all (no convergence scalar needed — the budget is fixed).
    """
    edges, _, table = driverstate.checkpoint_sized(edges.select("u", "v"))
    if table is not None:
        node_type = edges.schema["u"].dataType.simpleString()
        return _kcore_local(edges.sparkSession, table, node_type, k, rounds)
    # all_nodes is consumed exactly ONCE, in the final assembly join —
    # an eager checkpoint here was a pure extra blocking job on the
    # critical path (optimization r8): leave it lazy; the distinct runs
    # inside the final job off the edges checkpoint.
    all_nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    # Per-round checkpoint discipline (optimization r7, guide §1.3 /
    # §2.1): checkpoint the SMALL per-round victim set, not a growing
    # removed-accumulator union. The old shape eagerly re-materialized
    # every prior round's victims each round AND — because victims was
    # un-checkpointed and shuffle reuse does not cross jobs — computed
    # the degree aggregation twice per round (once for the accumulator
    # job, once inside the live-edges job). Now: one deg agg per round
    # (victims ckpt), the anti-joins read victims from the checkpoint,
    # and the accumulator is a lazy union of 6 checkpointed RDDs
    # assembled once at the end. Victims per round are identical, so
    # the result (and the oracle hash) is unchanged.
    victim_rounds = []
    live_edges = edges
    for rnd in range(1, rounds + 1):
        deg = (
            live_edges.select(F.col("u").alias("node"))
            .unionByName(live_edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # nodes that DISAPPEARED from live_edges entirely (degree 0) were
        # already removed in an earlier round alongside their last edge —
        # they are in `removed`; this round's casualties have 1 <= deg < k
        victims = (
            deg.where(F.col("deg") < k)
            .select("node", F.lit(rnd).cast("int").alias("removed_round"))
            .transform(driverstate.materialize)
        )
        victim_rounds.append(victims)
        live_edges = (
            live_edges.join(
                victims.select(F.col("node").alias("u")), "u", "left_anti"
            )
            .join(victims.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v")
            .transform(driverstate.materialize)
        )
    if victim_rounds:
        removed = victim_rounds[0]
        for vr in victim_rounds[1:]:
            removed = removed.unionByName(vr)
    else:  # rounds == 0: empty (node, removed_round) accumulator
        node_type = edges.schema["u"].dataType.simpleString()
        removed = edges.sparkSession.createDataFrame(
            [], f"node {node_type}, removed_round int"
        )
    # isolated-by-peeling nodes: removed when their last neighbor went —
    # they never show a degree row again. Assign them the round AFTER
    # their absence began? No: they had deg >= 1 while any edge remained,
    # so every node either appears in `removed` or survives with deg >= k
    # ... except a node whose LAST live edge died because the OTHER
    # endpoint was removed: it keeps deg 0 silently. Sweep them up as
    # removed in the final round's accounting (round = rounds, matching
    # the oracle's identical sweep).
    survivors = (
        live_edges.select(F.col("u").alias("node"))
        .unionByName(live_edges.select(F.col("v").alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(removed, "node", "left")
        .join(survivors.withColumn("_s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.coalesce(
                "removed_round",
                F.when(F.col("_s").isNull(), F.lit(rounds)).otherwise(F.lit(0)),
            )
            .cast("int")
            .alias("removed_round"),
        )
        .withColumn("in_core", F.col("removed_round") == 0)
    )


def _kcore_oracle_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unrolled-CTE mirror of kcore_peel (same fixed round budget)."""
    ctes = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SUPPORT})""",
        "alln AS (SELECT u AS node FROM e0 UNION SELECT v AS node FROM e0)",
    ]
    removed_union = []
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
      GROUP BY node)"""
        )
        ctes.append(f"v{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg < {k})")
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u NOT IN (SELECT node FROM v{r})
        AND v NOT IN (SELECT node FROM v{r}))"""
        )
        removed_union.append(f"SELECT node, {r} AS removed_round FROM v{r}")
    ctes.append("removed AS (" + " UNION ALL ".join(removed_union) + ")")
    ctes.append(
        f"""surv AS (
      SELECT u AS node FROM e{rounds} UNION SELECT v AS node FROM e{rounds})"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT a.node AS part_key,
           CAST(COALESCE(r.removed_round,
                CASE WHEN s.node IS NULL THEN {rounds} ELSE 0 END) AS INT)
             AS removed_round,
           COALESCE(r.removed_round,
                CASE WHEN s.node IS NULL THEN {rounds} ELSE 0 END) = 0 AS in_core
    FROM alln a
    LEFT JOIN removed r ON r.node = a.node
    LEFT JOIN surv s ON s.node = a.node"""
    )


@query(
    "kcore_peel_parts",
    None,  # assigned below (unrolled-iteration SQL)
    tags=("graph", "iterative"),
    doc=f"{KCORE_ROUNDS}-round {KCORE_K}-core peel of the part "
    f"co-purchase graph (same edge base as triangle_count_parts): "
    f"onion-layer decomposition — removed_round is the peel layer, "
    f"survivors are the {KCORE_K}-core. Fixed round budget on both "
    f"engines makes an ITERATIVE fixpoint exact-hash-oracled (the "
    f"pagerank recipe); tests assert convergence inside the budget so "
    f"the result IS the true k-core on real inputs. When lineitem "
    f"stores at most {driverstate.DRIVER_STATE_MAX_ROWS:,} rows (read "
    f"from the parquet footers before any job), its (orderkey, "
    f"partkey) columns are read straight from the parquet file (one "
    f"Arrow collect where that read is unavailable) and the edges "
    f"are derived in numpy (distinct items, the u < v pairs of each "
    f"order when their count sum C(k, 2) is within that gate, a "
    f"sort-based support count), then peeled on the driver (numpy "
    f"bincount degrees). Otherwise the edges are derived in Spark and "
    f"checkpointed once; up to the gate they are peeled on the "
    f"driver, above it each round is one degree agg + two anti-join "
    f"filters on the shrinking edge set, lineage truncated per round.",
)
def kcore_peel_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    gate = driverstate.DRIVER_STATE_MAX_ROWS
    items = driverstate.collect_small_table(spark, sf_dir, "lineitem", ("l_orderkey", "l_partkey"))
    edges = None if items is None else _copurchase_edges_local(items, gate)
    if edges is None:
        peeled = kcore_peel(_copurchase_edges(spark, sf_dir))
    else:
        node_type = from_arrow_type(items.schema.field("l_partkey").type).simpleString()
        peeled = _kcore_local(
            spark, pa.table(dict(zip("uv", edges))), node_type, KCORE_K, KCORE_ROUNDS
        )
    return peeled.withColumnRenamed("node", "part_key")


_REG2["kcore_peel_parts"].oracle = _kcore_oracle_sql()
