"""Graph catalog: label → table registry with derived foreign-key edges.

Reference semantics (SURVEY.md §1.3): the reference stores a declared,
versioned schema of vertex/edge models and resolves ``graph.V(label)`` /
``graph.E(label)`` scans against JanusGraph label indexes
(reference: core/.../traversal/Graph.scala:25-42,
database/janusgraph/.../JanusDatabase.scala:487-521).

Spark-first re-expression: a label IS a table.  ``V(label)`` is a parquet
scan (partition pruning by construction — no label index needed).  Edges are
either dedicated tables (``src``/``dst`` keys + properties) or *derived* from
foreign keys.  At 100 TB the wrong move is materializing an edge list of
opaque string ids and joining through it (two shuffles); the right move is
joining on the natural key columns the tables already have — FK hops compile
to ONE equi-join, dimension sides broadcast, and Catalyst pushes filters into
both scans.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class VertexSpec:
    """One vertex label = one table.

    ``id_col`` is the natural unique key (the reference's opaque ``_id``,
    core/.../EntityId.scala:6-38, maps to this); ``name_col`` supports
    name-or-id resolution (services/ElementSrv.scala:24-31).
    """

    label: str
    id_col: str | tuple[str, ...]  # composite keys allowed (lineitem)
    loader: Callable[[], DataFrame]
    name_col: str | None = None
    n_rows_hint: int | None = None  # stats-fed row count (see attach_stats)
    n_bytes_hint: int | None = None  # stats-fed on-disk bytes (see attach_stats)

    @property
    def id_cols(self) -> tuple[str, ...]:
        return tuple(self.id_col) if isinstance(self.id_col, (tuple, list)) else (self.id_col,)


@dataclass
class EdgeSpec:
    """One edge label (src_label → dst_label).

    The *edge relation* is a DataFrame whose ``src_key``/``dst_key`` columns
    equal the vertex tables' ``src_join_col``/``dst_join_col``.

    kind:
      * ``fk``    — the edge relation IS one of the endpoint tables
                    (``fk_holder`` = "src" | "dst").  Hops compile to a
                    single equi-join because the edge row coincides with the
                    holder-side vertex row.
      * ``table`` — a dedicated edge relation with its own properties
                    (the reference's ``Knows(weight)`` shape,
                    core-test/.../Modern.scala:42).
    """

    label: str
    src_label: str
    dst_label: str
    loader: Callable[[], DataFrame]
    src_key: str
    dst_key: str
    src_join_col: str
    dst_join_col: str
    kind: str = "table"  # "fk" | "table"
    fk_holder: str | None = None  # "src" | "dst" when kind == "fk"


class GraphCatalog:
    """Label registry + scan entry points (Graph.scala:25-42 analog)."""

    # hop joins auto-broadcast a vertex side the STATS TIER proves to be
    # under this many rows — Spark's own byte-threshold needs a plannable
    # size estimate, which a store-backed loader or a post-filter relation
    # often lacks; a persisted ANALYZE stat is authoritative regardless
    auto_broadcast_rows: int = 500_000
    # ...AND under this estimated IN-MEMORY byte size: a row count alone
    # would broadcast a 500k-row table of wide comment columns (hundreds
    # of MB × every executor).  Estimated bytes = stats n_bytes (on-disk
    # parquet) × PARQUET_EXPANSION when ANALYZE recorded it, else
    # n_rows × a per-dtype schema width.  Same role as
    # spark.sql.autoBroadcastJoinThreshold, sized for 1000-executor
    # fan-out (broadcast cost = size × executors, so stay small).
    auto_broadcast_bytes: int = 64 << 20
    PARQUET_EXPANSION: int = 4  # decompressed/decoded ≈ 4× on-disk parquet

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.vertices: dict[str, VertexSpec] = {}
        self.edges: dict[str, EdgeSpec] = {}
        self.stream_dir: str | None = None  # parquet dir for V_stream scans

    # -- registration -----------------------------------------------------
    def add_vertex(self, spec: VertexSpec) -> "GraphCatalog":
        self.vertices[spec.label] = spec
        return self

    def add_store_vertex(
        self, store, label: str, id_col, name_col: str | None = None, merged: bool = False
    ) -> "GraphCatalog":
        """Register a vertex label backed by a :class:`~scalligraph_spark.
        store.LabelStore` — scans read the CURRENTLY-committed table
        version, so a `store.write` (create/update/remove rewrite) is
        immediately visible to new traversals while open snapshots keep
        their pinned version (Database SPI read-your-commits semantics).

        ``merged=True`` scans through :meth:`LabelStore.read_merged`:
        outstanding merge-on-read deltas resolve into every traversal
        (the delta segments union onto the base scan, which anti-joins
        the broadcast churn-sized tombstones) — the read face of the
        ``write_delta`` update path."""
        loader = (
            (lambda: store.read_merged(self.spark, label))
            if merged
            else (lambda: store.read(self.spark, label))
        )
        return self.add_vertex(VertexSpec(label, id_col, loader=loader, name_col=name_col))

    def add_edge(self, spec: EdgeSpec) -> "GraphCatalog":
        self.edges[spec.label] = spec
        return self

    def V_stream(self, label: str):
        """Streaming scan of a registered parquet-backed vertex label: the
        batch loader's schema drives ``readStream`` over the same files, so
        any label participates in Structured Streaming pipelines (watermark
        → window/dedup/join → sink) without re-declaring its schema.

        Labels whose batch loader TRANSFORMS raw columns (events' ns→µs
        timestamp conversion) need their dedicated stream constructor
        (streaming.event_stream) — the raw file schema differs from the
        loaded one.
        """
        if self.stream_dir is None:
            raise ValueError("catalog has no stream_dir; set it to the parquet directory first")
        if label == "events":
            raise ValueError("events needs streaming.event_stream (raw ns schema differs from the loaded one)")
        schema = self.vertex_df(label).schema
        return (
            self.spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{label}.parquet")
            .parquet(self.stream_dir)
        )

    def out_edges(self, src_label: str) -> list[EdgeSpec]:
        return [e for e in self.edges.values() if e.src_label == src_label]

    def in_edges(self, dst_label: str) -> list[EdgeSpec]:
        return [e for e in self.edges.values() if e.dst_label == dst_label]

    # -- stats-fed planning hints ------------------------------------------
    def set_row_hint(self, label: str, n_rows: int | None) -> "GraphCatalog":
        """Pin a row-count hint for a vertex label (None clears it)."""
        self.vertices[label].n_rows_hint = n_rows
        return self

    def attach_stats(self, store, labels: list[str] | None = None) -> "GraphCatalog":
        """Feed persisted ANALYZE stats (stats.analyze → ``_stats.json``)
        into the hop planner: every named (default: all registered) vertex
        label whose store table carries a stat gets its row count pinned —
        a metadata read, never a job.  Hops to labels the stats prove
        small then choose BroadcastHashJoin without hand-placed
        ``F.broadcast`` hints (the reference's index-hint discipline,
        Model.scala:16-19, applied to join planning).

        Staleness: stats live WITH the store version they describe, so a
        table that advanced past its last ANALYZE has no current-version
        stats — this call then CLEARS the label's hints rather than keep
        planning on the old version's numbers (a grown table must not
        keep force-broadcasting).  Clearing applies only to labels the
        store actually tracks (``store.version(label) > 0``): labels
        backed by plain parquet keep whatever footer hints
        :meth:`attach_parquet_stats` gave them — those describe a file
        that cannot have drifted under a store version pointer."""
        from scalligraph_spark.stats import stats_for

        for label in labels if labels is not None else list(self.vertices):
            if store.version(label) == 0:
                continue  # not a store table: leave footer/manual hints alone
            try:
                s = stats_for(store, label)
            except FileNotFoundError:
                s = None
            spec = self.vertices[label]
            spec.n_rows_hint = None if s is None else int(s["n_rows"])
            spec.n_bytes_hint = None if s is None or "n_bytes" not in s else int(s["n_bytes"])
        return self

    def attach_parquet_stats(self, sf_dir: str, labels: list[str] | None = None) -> "GraphCatalog":
        """Feed parquet FOOTER metadata (row count + on-disk size) into the
        hop planner for plain-parquet labels — the file-format analog of
        :meth:`attach_stats`: a metadata read, never a job.  Labels whose
        file is missing are left unhinted."""
        import os

        import pyarrow.parquet as pq

        for label in labels if labels is not None else list(self.vertices):
            p = os.path.join(sf_dir, f"{label}.parquet")
            if not os.path.exists(p):
                continue
            # single file OR a Spark-written directory of part files —
            # footer reads either way, no data scan
            files = (
                [p]
                if os.path.isfile(p)
                else [
                    os.path.join(p, fn)
                    for fn in os.listdir(p)
                    if fn.endswith(".parquet") and not fn.startswith((".", "_"))
                ]
            )
            if not files:
                continue
            spec = self.vertices[label]
            spec.n_rows_hint = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            spec.n_bytes_hint = sum(os.path.getsize(f) for f in files)
        return self

    # schema-width fallback when ANALYZE predates the n_bytes field —
    # deliberately pessimistic for variable-width types
    _DTYPE_WIDTH = {"string": 32, "binary": 128}

    def _est_broadcast_bytes(self, label: str, df: DataFrame, n_rows: int) -> int:
        spec = self.vertices[label]
        if spec.n_bytes_hint is not None:
            return spec.n_bytes_hint * self.PARQUET_EXPANSION
        width = 0
        for _, dt in df.dtypes:
            if dt.startswith(("array", "map", "struct")):
                width += 256
            else:
                width += self._DTYPE_WIDTH.get(dt, 8)
        return n_rows * width

    def hop_df(self, label: str) -> DataFrame:
        """Vertex table as a hop-join side: broadcast-hinted when the
        stats tier proves it small — BOTH ``n_rows_hint`` ≤
        ``auto_broadcast_rows`` AND the estimated in-memory size ≤
        ``auto_broadcast_bytes`` (row count alone would ship a wide
        500k-row table to every executor) — else the plain scan, where
        Catalyst/AQE keep making the call."""
        df = self.vertices[label].loader()
        hint = self.vertices[label].n_rows_hint
        if (
            hint is not None
            and hint <= self.auto_broadcast_rows
            and self._est_broadcast_bytes(label, df, hint) <= self.auto_broadcast_bytes
        ):
            return F.broadcast(df)
        return df

    # -- SQL surface -------------------------------------------------------
    def create_views(self, prefix: str = "") -> "GraphCatalog":
        """Register every vertex label as a session temp view
        (``prefix<label>``) so plain ``spark.sql`` works against the
        catalog — the escape hatch for users who want ANSI SQL instead of
        the traversal/JSON surfaces.  Views are lazy references to the
        SAME loader DataFrames (store-backed labels keep read-your-commits
        semantics: the view re-resolves the current version per query)."""
        for label in self.vertices:
            self.vertex_df(label).createOrReplaceTempView(f"{prefix}{label}")
        return self

    def sql(self, query: str, prefix: str = "") -> DataFrame:
        """One-shot SQL over the catalog's labels (views auto-registered)."""
        self.create_views(prefix)
        return self.spark.sql(query)

    # -- scans (Graph.scala:25-33) ----------------------------------------
    def vertex_df(self, label: str) -> DataFrame:
        return self.vertices[label].loader()

    def edge_df(self, label: str) -> DataFrame:
        return self.edges[label].loader()

    def V(self, label: str, ids: list | None = None):  # noqa: N802
        """Typed vertex scan (Graph.scala:25; JanusDatabase.scala:487-494).

        ``ids`` folds into the scan as an IN filter — parquet row-group
        pruning serves it, mirroring the reference's index-backed
        ``JanusGraphStep`` id folding (strategies/JanusGraphAcceptNull
        Strategy.java:31-62).
        """
        from scalligraph_spark.traversal import Traversal

        spec = self.vertices[label]
        df = spec.loader()
        if ids:
            cols = spec.id_cols
            if len(cols) == 1:
                df = df.where(F.col(cols[0]).isin(ids))
            else:
                # composite ids arrive as tuples; OR of per-key conjunctions
                conds = [
                    reduce(lambda a, b: a & b, [F.col(c) == F.lit(v) for c, v in zip(cols, i)])
                    for i in ids
                ]
                df = df.where(reduce(lambda a, b: a | b, conds))
        return Traversal(df, catalog=self, label=label)

    def get(self, label: str, id_or_name):
        """Resolve one element by id OR by its model's name column — the
        ``ElementSrv.get(idOrName)`` fold (services/ElementSrv.scala:24-31,
        ``EntityIdOrName`` EntityId.scala:6-38): an integer-like value
        resolves through the id scan (index-backed in the reference,
        id-folded parquet pruning here); anything else resolves by
        ``name_col``.  Labels without a name column reject non-id lookups
        (ElementSrv.getByName's default InternalError)."""
        from scalligraph_spark.traversal import Traversal

        spec = self.vertices[label]
        is_id = isinstance(id_or_name, int) or (
            isinstance(id_or_name, str) and id_or_name.lstrip("-").isdigit()
        )
        if is_id:
            return self.V(label, ids=[int(id_or_name)])
        if spec.name_col is None:
            raise ValueError(f"entity {label!r} cannot be retrieved by its name")
        df = spec.loader().where(F.col(spec.name_col) == F.lit(id_or_name))
        return Traversal(df, catalog=self, label=label)

    def E(self, label: str):  # noqa: N802
        """Edge scan (Graph.scala:29-32)."""
        from scalligraph_spark.traversal import Traversal

        return Traversal(self.edge_df(label), catalog=self, label=label, edge_label=label)

    def VV(self):  # noqa: N802
        """All-labels vertex scan (Graph.scala:26-28 ``graph.VV``): union of
        every vertex table, null-padded, with a ``_label`` discriminator."""
        from scalligraph_spark.traversal import Traversal

        dfs = [
            spec.loader().withColumn("_label", F.lit(label)) for label, spec in self.vertices.items()
        ]
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        return Traversal(df, catalog=self, label=None)

    def EE(self):  # noqa: N802
        """All-labels edge scan (Graph.scala:29-32 ``graph.EE``)."""
        from scalligraph_spark.traversal import Traversal

        dfs = [
            spec.loader().withColumn("_label", F.lit(label)) for label, spec in self.edges.items()
        ]
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        return Traversal(df, catalog=self, label=None)

    def empty(self, label: str):
        """Empty traversal with a label's schema (Graph.scala:33)."""
        from scalligraph_spark.traversal import Traversal

        df = self.vertex_df(label).where(F.lit(False))
        return Traversal(df, catalog=self, label=label)

    def union(self, *trav_fns):
        """Union of from-scratch traversals (Graph.scala:34-42)."""
        from scalligraph_spark.traversal import Traversal

        dfs = [fn(self).df for fn in trav_fns]
        first = trav_fns[0](self)
        return Traversal(reduce(DataFrame.unionByName, dfs), catalog=self, label=first.label)


# ---------------------------------------------------------------------------
# Driver-supplied TPC-H-ish tables as a graph (FIXTURES.md §5): FK columns
# become derived edges; `lineitem` doubles as a property-rich edge between
# orders and part (the reference's `Knows(weight)` analog).
# ---------------------------------------------------------------------------

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

ID_COLS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    # lineitem's element identity IS composite — treating l_orderkey alone as
    # the id would make every semi/anti-join keep or drop whole orders' worth
    # of lines (EntityId.scala expects unique element identity)
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_NAME_COLS = {
    "region": "r_name",
    "nation": "n_name",
    "customer": "c_name",
    "supplier": "s_name",
    "part": "p_name",
}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TPCH_TABLES}


def tpch_catalog(spark: SparkSession, sf_dir: str) -> GraphCatalog:
    """Catalog over the driver's tables with FK-derived edges.

    Edge labels (src → dst):
      in_region    nation   → region    (FK n_regionkey, holder=src)
      in_nation    customer → nation    (FK c_nationkey, holder=src)
      sup_nation   supplier → nation    (FK s_nationkey, holder=src)
      placed       customer → orders    (FK o_custkey,  holder=dst)
      contains     orders   → lineitem  (FK l_orderkey, holder=dst)
      of_part      lineitem → part      (FK l_partkey,  holder=src)
      by_supplier  lineitem → supplier  (FK l_suppkey,  holder=src)
      ordered_part orders   → part      (edge table = lineitem, with props)
    """
    cat = GraphCatalog(spark)
    cat.stream_dir = sf_dir

    def _load_events(spark=spark, sf_dir=sf_dir):
        # events.ts is parquet TIMESTAMP(NANOS), which Spark cannot read
        # natively.  nanosAsLong is a runtime SQL conf, so set it here — not
        # only at builder time (session.py) — because the harness supplies its
        # own SparkSession that never goes through get_spark().  Then convert
        # ns → µs with exact integer division (`div`; double division is
        # lossy at 1e18 ns magnitudes).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
        elif dt != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df

    loaders = {
        t: (lambda spark=spark, sf_dir=sf_dir, t=t: spark.read.parquet(f"{sf_dir}/{t}.parquet"))
        for t in TPCH_TABLES
    }
    loaders["events"] = _load_events

    for t in TPCH_TABLES:
        cat.add_vertex(VertexSpec(label=t, id_col=ID_COLS[t], loader=loaders[t], name_col=_NAME_COLS.get(t)))

    def fk(label, src, dst, holder, src_key, dst_key, src_join, dst_join):
        cat.add_edge(
            EdgeSpec(
                label=label,
                src_label=src,
                dst_label=dst,
                loader=loaders[src if holder == "src" else dst],
                src_key=src_key,
                dst_key=dst_key,
                src_join_col=src_join,
                dst_join_col=dst_join,
                kind="fk",
                fk_holder=holder,
            )
        )

    fk("in_region", "nation", "region", "src", "n_nationkey", "n_regionkey", "n_nationkey", "r_regionkey")
    fk("in_nation", "customer", "nation", "src", "c_custkey", "c_nationkey", "c_custkey", "n_nationkey")
    fk("sup_nation", "supplier", "nation", "src", "s_suppkey", "s_nationkey", "s_suppkey", "n_nationkey")
    fk("placed", "customer", "orders", "dst", "o_custkey", "o_orderkey", "c_custkey", "o_orderkey")
    fk("contains", "orders", "lineitem", "dst", "l_orderkey", "l_orderkey", "o_orderkey", "l_orderkey")
    fk("of_part", "lineitem", "part", "src", "l_orderkey", "l_partkey", "l_orderkey", "p_partkey")
    fk("by_supplier", "lineitem", "supplier", "src", "l_orderkey", "l_suppkey", "l_orderkey", "s_suppkey")
    # documents ↔ embeddings share their id space (vec_id == doc_id): the
    # multimodal-corpus tables participate in the SAME traversal surface as
    # the graph (V("documents").out("embeds") → embedding rows)
    fk("embeds", "documents", "embeddings", "src", "doc_id", "doc_id", "doc_id", "vec_id")
    cat.add_edge(
        EdgeSpec(
            label="ordered_part",
            src_label="orders",
            dst_label="part",
            loader=loaders["lineitem"],
            src_key="l_orderkey",
            dst_key="l_partkey",
            src_join_col="o_orderkey",
            dst_join_col="p_partkey",
            kind="table",
        )
    )
    # stats-fed hop planning by default: parquet footers are authoritative
    # row/byte counts at zero job cost, so every hop to a provably-small
    # dimension picks BroadcastHashJoin even where Spark's own size
    # estimate is unavailable (post-filter relations, store loaders)
    cat.attach_parquet_stats(sf_dir)
    return cat
