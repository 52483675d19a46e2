"""Graph analytics over graph exports: degrees, connected components,
PageRank, paths, communities, cores, SCCs and DAG levels.

The reference has no analytics layer (it is an OLTP traversal framework);
the north-star plan (BASELINE.json "GraphX for analytics over graph
exports") calls for one.  GraphX itself is Scala/RDD-side; these are
DataFrame-native implementations of the same algorithms, which keeps them
in Catalyst/Tungsten and works from PySpark.

Every iterative operator runs on one superstep engine, :class:`_Supersteps`
— the only code here that caches, cuts lineage or releases.  It follows
GraphX (OSDI'14) and Pregelix (VLDB'14):

* **partition-stable edges** — the loop-invariant graph is cached once, one
  row per vertex holding its out-edges, hash-partitioned on the vertex id.
  A superstep's aggregate is partitioned on the same key, so the join that
  hands the new vertex values their out-edges never moves the graph;
* **one shuffle per superstep** — every vertex emits its own state row and
  one message per out-edge from a single generator, and one aggregate per
  vertex combines the messages (the map-side partial aggregate is the
  Pregel combiner) and applies the update;
* **active-set messages** — only vertices whose value changed in the last
  superstep get their out-edges attached, so only they send;
* **observed convergence** — each lineage cut is one materializing action
  (``localCheckpoint``, or a reliable ``checkpoint`` into
  ``checkpoint_dir``), and the convergence statistic rides on it through
  ``DataFrame.observe``: no separate count or collect probe;
* **release** — on return every cache and cut the call made is released
  except the one the result reads.

With AQE every shuffle stage is its own Spark job, so a superstep costs two
jobs (its shuffle and its cut) whatever the graph size, and job count is
what a small graph pays for.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

_OUT = "__out"  # a vertex's out-edges: array<struct<dst, *attrs>>
_ACTIVE = "__active"  # the vertex changed in the last superstep: it sends next
_UNBOUNDED = 1 << 31  # max_iter of the inner fixpoints that always terminate


def _release(cut: DataFrame) -> None:
    """Free a lineage cut: a ``LogicalRDD`` over a checkpointed RDD, whose
    blocks (a local checkpoint's; a reliable one holds none) go with it."""
    cut._jdf.queryExecution().logical().rdd().unpersist(False)


class _Supersteps:
    """The lifecycle of one iterative operator call: the graph it caches,
    the supersteps it runs, the lineage cuts it makes and their release.

    Each cut supersedes the ones before it, which are released as soon as
    it is materialized.  Use it as a context manager: on exit the caches
    are released, and so is the newest cut if the block raised — otherwise
    that cut is what the returned result reads, and it stays."""

    def __init__(self, checkpoint_dir: str | None = None):
        self.checkpoint_dir = checkpoint_dir
        self._caches: list[DataFrame] = []
        self._cut: DataFrame | None = None

    def __enter__(self) -> _Supersteps:
        return self

    def __exit__(self, exc_type, *exc) -> None:
        for df in self._caches:
            df.unpersist()
        if exc_type is not None and self._cut is not None:
            _release(self._cut)

    def graph(self, edges: DataFrame, *attrs: str, distinct: bool = False) -> DataFrame:
        """Cache ``(vertex, __out)`` over ``edges`` (src, dst, *attrs): one
        row per endpoint with its out-edges as ``struct(dst, *attrs)`` (an
        empty array for a pure sink), hash-partitioned on ``vertex``.
        ``distinct`` drops parallel edges."""
        rows = edges.select(F.inline(F.array(
            F.struct(F.col("src").alias("vertex"), F.struct("dst", *attrs).alias("__e")),
            F.struct(F.col("dst").alias("vertex"), F.lit(None).alias("__e")),
        )))
        collect = F.collect_set if distinct else F.collect_list
        g = rows.groupBy("vertex").agg(collect("__e").alias(_OUT)).persist()
        self._caches.append(g)
        # fill the cache now: a superstep chain scans it several times, and
        # under AQE every scan of an unfilled cache launches its own build
        g.write.format("noop").mode("overwrite").save()
        return g

    def cut(self, df: DataFrame, **stats: Column) -> tuple[DataFrame, dict]:
        """Materialize ``df`` with ONE action that cuts its lineage and
        observes ``stats`` (aggregate columns) on the way, then release the
        previous cut.  Returns the cut and the observed values."""
        obs = None
        if stats:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in stats.items()])
        if self.checkpoint_dir is None:
            out = df.localCheckpoint(eager=True)
        else:
            sc = df.sparkSession.sparkContext
            if sc.getCheckpointDir() != self.checkpoint_dir:
                sc.setCheckpointDir(self.checkpoint_dir)
            out = df.checkpoint(eager=True)
        if self._cut is not None:
            _release(self._cut)
        self._cut = out
        return out, (obs.get if obs is not None else {})

    def loop(self, state, step, *, max_iter: int, quiet: Column, every: int = 1,
             stats: dict | None = None) -> tuple[DataFrame, dict]:
        """Run ``state = step(state, i)`` for ``i < max_iter``, cutting after
        every ``every``-th superstep and after the last.  ``quiet`` and
        ``stats`` are observed on each cut; the loop stops at the first cut
        where ``quiet`` is 0.  Returns the last cut and what was observed
        on it."""
        if max_iter <= 0:
            return self.cut(state)
        for i in range(max_iter):
            state = step(state, i)
            if (i + 1) % every and i + 1 < max_iter:
                continue
            state, seen = self.cut(state, quiet=quiet, **(stats or {}))
            if seen["quiet"] == 0:
                break
        return state, seen

    def pregel(self, graph: DataFrame, state: DataFrame, send, combine, apply: dict, *,
               max_iter: int, every: int = 1, active_only: bool = True, keys: tuple[str, ...] = (),
               stats: dict | None = None) -> tuple[DataFrame, dict]:
        """Vertex-centric supersteps over ``graph`` (from :meth:`graph`).

        ``state`` holds one row per ``(vertex, *keys)``: value columns and
        ``__active``, the rows that send in the first superstep (all when
        absent).  In a superstep each active row — every row unless
        ``active_only`` — sends ``send(e)`` along each out-edge ``e``: a
        column over ``e`` (struct dst, *attrs) and the sender's values,
        delivered to ``(e.dst, *keys)``.  ``combine`` (an aggregate
        function) folds the messages a row receives into ``__m``, null when
        none arrived; ``apply`` maps value columns (and ``__active``) to
        their new values from the old ones and ``__m``; unnamed columns
        carry over.  A message to a row that does not exist creates it with
        null old values.

        The statistic ``quiet`` is the number of active rows; the loop stops
        when it is 0 (never, when ``apply`` leaves every row active).
        Returns the last cut and what was observed on it."""
        key = ["vertex", *keys]
        if _ACTIVE not in state.columns:
            state = state.withColumn(_ACTIVE, F.lit(True))
        cols = [c for c in state.columns if c not in (*key, _ACTIVE, _OUT)]
        new_values = [apply.get(c, F.col(c)).alias(c) for c in cols] + [apply.get(_ACTIVE, F.lit(True)).alias(_ACTIVE)]
        n = int(state.sparkSession.conf.get("spark.sql.shuffle.partitions"))

        def attach(s: DataFrame) -> DataFrame:
            out = F.when(F.col(_ACTIVE), F.col(_OUT)) if active_only else F.col(_OUT)
            return s.drop(_OUT).join(graph.hint("shuffle_hash"), "vertex", "left").select(
                *key, *cols, _ACTIVE, out.alias(_OUT)
            )

        def step(s: DataFrame, i: int) -> DataFrame:
            me = F.struct(*key, F.struct(*cols).alias("__s"), F.lit(None).alias("__m"))
            msgs = F.transform(_OUT, lambda e: F.struct(
                e["dst"].alias("vertex"), *keys, F.lit(None).alias("__s"), send(e).alias("__m")
            ))
            rows = s.select(F.inline(F.concat(F.array(me), F.coalesce(msgs, F.array()))))
            if keys:  # keep the aggregate partitioned on vertex alone, as the graph is
                rows = rows.repartition(n, "vertex")
            new = (
                rows.groupBy(*key)
                .agg(F.first("__s", ignorenulls=True).alias("__s"), combine(F.col("__m")).alias("__m"))
                .select(*key, "__s.*", "__m")
                .select(*key, *new_values)
            )
            return new if i + 1 == max_iter else attach(new)  # the last superstep sends nothing

        return self.loop(attach(state), step, max_iter=max_iter, every=every,
                         quiet=F.count_if(F.col(_ACTIVE)), stats=stats)


def _undirected(e: DataFrame) -> DataFrame:
    """Both orientations of every (src, dst) edge, reading ``e`` once."""
    return e.select(F.inline(F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )))


def _quiet(seen: dict) -> bool:
    return seen.get("quiet") == 0


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex in/out/total degree — one aggregation per direction plus
    an outer merge (vertices missing from a side get 0)."""
    out_d = edges.groupBy(F.col(src).alias("vertex")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("vertex")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "vertex", "full_outer")
        .select(
            "vertex",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_every: int = 3,
    algorithm: str = "two_phase",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components → (vertex, component), component = min reachable
    vertex id.  Undirected semantics; vertex set = ids appearing in edges.

    Two algorithms, identical results:

    * ``two_phase`` (default) — alternating large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): the edge set contracts toward star graphs in **O(log n)
      rounds regardless of graph diameter**, two shuffles per round.  A
      path-shaped component converges in ~2·log₂(n) rounds where min-label
      needs `diameter` supersteps.
    * ``min_label`` — HashToMin label propagation on the superstep engine,
      one shuffle per superstep, O(diameter) supersteps; only vertices whose
      label dropped send.  Kept as the differential oracle for two-phase
      and for bounded-diameter graphs, where its supersteps are cheaper.
      Convergence is observed every ``checkpoint_every`` supersteps, at the
      lineage cuts.

    ``checkpoint_dir``: when set, lineage cuts use a RELIABLE
    ``df.checkpoint`` into that directory (fault-tolerant on a cluster);
    default is executor-local ``localCheckpoint`` (fast, but lost with an
    executor — fine for local mode).

    Raises a warning if ``max_iter`` is exhausted before the fixpoint —
    silently-unconverged labels would poison downstream dedup decisions.
    """
    if algorithm not in ("two_phase", "min_label"):
        raise ValueError(f"unknown algorithm {algorithm!r}: two_phase | min_label")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _Supersteps(checkpoint_dir) as ss:
        if algorithm == "two_phase":
            comp, converged = _cc_two_phase(ss, e, max_iter)
        else:
            g = ss.graph(_undirected(e), distinct=True)
            state, seen = ss.pregel(
                g,
                g.select("vertex", F.col("vertex").alias("component")),
                send=lambda _: F.col("component"),
                combine=F.min,
                apply={"component": F.least("component", "__m"), _ACTIVE: F.col("__m") < F.col("component")},
                max_iter=max_iter,
                every=checkpoint_every,
            )
            comp, converged = state.select("vertex", "component"), _quiet(seen)
    if not converged:
        warnings.warn(
            f"connected_components({algorithm}) hit max_iter={max_iter} before the fixpoint — "
            + ("component labels may be incomplete" if algorithm == "two_phase" else
               "labels may span unmerged components (min-label needs `diameter` supersteps; "
               "use algorithm='two_phase' for O(log n))"),
            RuntimeWarning,
            stacklevel=2,
        )
    return comp


def _cc_two_phase(ss: _Supersteps, e: DataFrame, max_iter: int) -> tuple[DataFrame, bool]:
    """Large-star/small-star alternation (Kiveris et al. SoCC'14 §3).

    State = an undirected edge set that contracts toward star graphs:

    * **large-star**: every vertex `u` connects each strictly-LARGER
      neighbor to `m(u) = min(Γ(u) ∪ {u})` — long chains hook high ids
      directly onto low ids.  Every output pair (x, y) has x > y.
    * **small-star**: every `x` connects each smaller neighbor (and itself)
      to the minimum of its smaller neighbors — flattens partial trees into
      stars.

    Each minimum is ``min(v) over (partition by u)``: one shuffle per star
    step, no groupBy and join back.  The round's input is deduplicated
    inside the large-star's partitions, so no shuffle is spent on it.  A
    vertex with no smaller neighbor (a local minimum, or a vertex with
    only self-loops) keeps one self-row ``(u, u)``, so every vertex stays
    in the state.

    Fixpoint: a round that re-hooks no edge (every large-star minimum is
    the vertex itself and every small-star vertex has one smaller
    neighbor) returns its input set: stars rooted at the component minima,
    one row per vertex — ``(leaf, root)`` or ``(root, root)`` — which is
    the result as it stands.  The count of re-hooked edges is observed on
    the round's cut.
    """

    def star_round(s: DataFrame, i: int) -> DataFrame:
        by_u = Window.partitionBy("src")
        nbrs = _undirected(s.select("src", "dst")).repartition("src").dropDuplicates(["src", "dst"])
        large = nbrs.select(
            "src", "dst",
            F.least("src", F.min("dst").over(by_u)).alias("m"),
            (F.row_number().over(by_u.orderBy("dst")) == 1).alias("first"),
        ).select(F.inline(F.array(
            F.when(F.col("dst") > F.col("src"), F.struct(
                F.col("dst").alias("x"), F.col("m").alias("y"), (F.col("m") != F.col("src")).alias("f"))),
            F.when(F.col("first") & (F.col("m") == F.col("src")), F.struct(
                F.col("src").alias("x"), F.col("src").alias("y"), F.lit(False).alias("f"))),
        ))).where(F.col("x").isNotNull())
        m2 = F.col("m2")
        return large.withColumn("m2", F.min("y").over(Window.partitionBy("x"))).select(F.inline(F.array(
            F.struct(F.col("x").alias("src"), m2.alias("dst"), (F.col("f") | (F.col("y") != m2)).alias("f")),
            F.when(F.col("y") != m2, F.struct(F.col("y").alias("src"), m2.alias("dst"), F.lit(True).alias("f"))),
        ))).where(F.col("src").isNotNull())

    stars, seen = ss.loop(e, star_round, max_iter=max_iter, quiet=F.count_if("f"))
    if _quiet(seen):
        return stars.select(F.col("src").alias("vertex"), F.col("dst").alias("component")), True
    # unconverged: a vertex may still hold several pointers; keep the least
    comp, _ = ss.cut(stars.groupBy(F.col("src").alias("vertex")).agg(F.min("dst").alias("component")))
    return comp, False


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    checkpoint_dir: str | None = None,
    exact_sums: bool = False,
) -> DataFrame:
    """Classic iterative PageRank: rank(v) = (1-d) + d·Σ rank(u)/outdeg(u)
    over in-neighbors u (the GraphX formulation, ranks sum ≈ N).

    Dangling vertices (no out-edges) keep contributing nothing — matching
    GraphX's default staticRank behavior.

    ``exact_sums`` routes the per-vertex rank-mass sum through
    DECIMAL(28,18) (still partial-aggregable — the skew shape is
    unchanged): a hub summing thousands of double contributions becomes
    order-independent, so a replay oracle re-accumulating in a different
    order reproduces every round's ranks bit-identically.  All other
    arithmetic is elementwise and already engine-exact.

    CAVEAT (ADVICE r13): ``exact_sums=True`` applies the repo's 1e-12
    quantization to each iteration's ``recv`` INSIDE the loop, so the
    per-round rounding compounds across iterations — after k rounds the
    ranks can differ from the plain-double path by up to ~k·|rank|·1e-12
    (damping-attenuated; ≈1e-11 relative at the default 10 iterations),
    not merely by summation order.  That is the deliberate trade: both
    engines replay the SAME quantized recurrence bit-identically, which
    is what the cross-engine oracle needs.  ``exact_sums=False`` remains
    the production default — plain double sums, no quantization, the
    GraphX-equivalent recurrence; bench slopes recorded before round 13
    measured that path (the bench key switched semantics in r13 — see
    PERF.md)."""
    # round-12 after the exact decimal sum: engines convert decimal->double
    # with up to 1 ulp of divergence (DuckDB's int128/10^18 two-step vs
    # BigDecimal.doubleValue); the repo's standard 1e-12 quantization erases
    # it while the sum itself stays order-independent
    recv = (lambda m: F.round(F.sum(m.cast("decimal(28,18)")).cast("double"), 12)) if exact_sums else F.sum
    return _ranks(edges, None, src, dst, iterations, damping, checkpoint_every, checkpoint_dir, recv)


def _ranks(edges: DataFrame, seeds: DataFrame | None, src: str, dst: str, iterations: int, damping: float,
           checkpoint_every: int, checkpoint_dir: str | None, combine) -> DataFrame:
    """The PageRank supersteps: every vertex sends rank/outdeg along its
    out-edges and takes ``teleport + d·Σ received``, where the walk restarts
    with mass (1-d) at every vertex, or at the ``seeds`` (a ``vertex``
    column) only.  A sum has no active set: every vertex sends every
    superstep, and lineage is cut every ``checkpoint_every`` of them."""
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
        if seeds is None:
            init, teleport = g.select("vertex", F.lit(1.0).alias("rank")), F.lit(1.0 - damping)
        else:
            seed = F.coalesce("__seed", F.lit(False))
            init = g.join(seeds.distinct().withColumn("__seed", F.lit(True)), "vertex", "left").select(
                "vertex", seed.alias("__seed"), F.when(seed, F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank"))
            teleport = F.when(F.col("__seed"), F.lit(1.0 - damping)).otherwise(F.lit(0.0))
        ranks, _ = ss.pregel(
            g,
            init,
            send=lambda _: F.col("rank") / F.size(_OUT),
            combine=combine,
            apply={"rank": teleport + F.lit(damping) * F.coalesce("__m", F.lit(0.0))},
            max_iter=iterations,
            every=checkpoint_every,
        )
        return ranks.select("vertex", "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts via the degree-ordered edge-iterator
    algorithm (Suri & Vassilvitskii's MapReduce classic, also GraphX's
    formulation): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher, generate wedges only at each edge pair's
    common LOW endpoint, and close them against the canonical edge set.

    Why this survives 100 TB: naive wedge generation does Σ d(v)² work —
    a single celebrity vertex with 10M neighbors yields 10¹⁴ wedges.
    Degree-ordering caps every vertex's wedge fan-out at its ORIENTED
    out-degree, bounding total wedge volume by O(m^{3/2}) regardless of
    skew, with plain joins/aggregates only (no UDF): one narrow degree
    aggregate, one broadcast-or-shuffle join to orient, one self-join to
    build wedges, one equi-join to close.  Vertices in no triangle are
    omitted (count 0).

    Returns ``(vertex, n_triangles)``.
    """
    e = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("a"), F.greatest(F.col(src), F.col(dst)).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    a_low = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ranked.select(
        F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    o1 = oriented.select(F.col("lo"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo"), F.col("hi").alias("y"))
    wedges = o1.join(o2, "lo").where(F.col("x") < F.col("y"))
    tri = wedges.join(e, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")))
    return (
        tri.select(F.explode(F.array("lo", "x", "y")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    degree ≥ k (undirected), found by deterministic synchronous peeling.
    Returns ``(vertex, degree)`` with each survivor's degree inside the
    core.

    On the superstep engine: every vertex starts with its degree, those
    below k die, and each superstep the vertices that died in the last one
    tell their neighbours, who subtract the count and die in turn when
    they drop below k.  One shuffle per peeling round, carrying only the
    fresh deaths' messages; the loop stops the moment no vertex died.
    Raises if ``max_iter`` rounds pass without convergence, never
    returning a silently-unpeeled core.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(F.col("src") != F.col("dst"))
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(_undirected(e), distinct=True)
        deg = F.size(_OUT).cast("long")
        left = F.col("degree") - F.coalesce("__m", F.lit(0))
        core, seen = ss.pregel(
            g,
            g.select("vertex", deg.alias("degree"), (deg >= k).alias("__alive"), (deg < k).alias(_ACTIVE)),
            send=lambda _: F.lit(1),
            combine=F.sum,
            apply={"degree": left, "__alive": F.col("__alive") & (left >= k), _ACTIVE: F.col("__alive") & (left < k)},
            max_iter=max_iter,
        )
        if not _quiet(seen):
            raise RuntimeError(f"k_core did not converge in {max_iter} rounds (k={k})")
        return core.where("__alive").select("vertex", "degree")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    checkpoint_every: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection → (vertex,
    community).  Undirected semantics; every vertex starts in its own
    community (= its id) and each round adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label — fully
    deterministic under any partitioning (GraphX's LPA breaks ties by
    hashmap iteration order; this one is reproducible).

    Like every synchronous LPA it can oscillate on bipartite-ish
    structures, so the loop runs at most ``max_iter`` rounds (GraphX
    semantics) but stops early at a fixpoint, observed every
    ``checkpoint_every`` rounds at the lineage cuts.

    Scale shape per round: one shuffle on the superstep engine; the
    neighbour-label vote is ``mode(label, deterministic)`` per vertex, a
    partial-aggregable combiner.  Every vertex sends every round: a vote
    needs all neighbours' labels, not only the changed ones.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(_undirected(e), distinct=True)
        labels, _ = ss.pregel(
            g,
            g.select("vertex", F.col("vertex").alias("community")),
            send=lambda _: F.col("community"),
            combine=lambda m: F.mode(m, True),  # most frequent; ties → smallest
            apply={"community": F.coalesce("__m", "community"), _ACTIVE: F.col("__m") != F.col("community")},
            max_iter=max_iter,
            every=checkpoint_every,
            active_only=False,
        )
        return labels.select("vertex", "community")


def _shortest_paths(edges: DataFrame, seeds: DataFrame, max_hops: int, value: str, *, src: str, dst: str,
                    seed_col: str, checkpoint_dir: str | None, weight: str | None = None,
                    per_source: bool = False) -> DataFrame:
    """Bounded-hop multi-source shortest paths on the superstep engine
    (the GraphX/Pregel ShortestPaths formulation): seeds start at 0, a
    vertex whose ``value`` improved sends ``value + weight`` (``+ 1``
    without a weight) along its out-edges, and each vertex keeps the
    minimum.  Stops when no vertex improved, so supersteps = the longest
    useful hop count, not ``max_hops``.  ``per_source`` keys the state by
    ``(source, vertex)``: every seed's distances in the same supersteps."""
    keys = ("source",) if per_source else ()
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), *([F.col(weight).alias("w")] if weight else []))
    s = seeds.select(F.col(seed_col).alias("vertex")).distinct()
    init = s.select("vertex", *([F.col("vertex").alias("source")] if per_source else []),
                    F.lit(0).cast("long").alias(value))
    step = (lambda el: F.col(value) + el["w"]) if weight else (lambda el: F.col(value) + 1)
    better = F.col("__m").isNotNull() & (F.col(value).isNull() | (F.col("__m") < F.col(value)))
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(e, *(["w"] if weight else []))
        state, _ = ss.pregel(
            g, init, send=step, combine=F.min, apply={value: F.least(value, "__m"), _ACTIVE: better},
            max_iter=max_hops, keys=keys,
        )
        return state.select(*keys, "vertex", value)


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed vertex to every
    reachable vertex within ``max_depth`` hops, following edge direction.

    The relational Pregel frontier loop (the `repeat(out()).until(...)`
    family of reference traversals, `core/.../traversal/TraversalOps.scala`
    repeat/emit steps, computed set-at-a-time instead of per-traverser):
    only the vertices reached in the last superstep — the frontier — send,
    so each edge carries a message at most once, and a vertex enters at
    its FIRST (minimal) depth.  The loop stops as soon as the frontier
    empties, so supersteps = eccentricity(seeds), not ``max_depth``.  An
    external oracle replays this as a recursive CTE with UNION-dedup +
    min().
    """
    return _shortest_paths(edges, seeds, max_depth, "dist", src=src, dst=dst, seed_col=seed_col,
                           checkpoint_dir=checkpoint_dir)


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    seed_col: str = "vertex",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths: minimum path cost from any
    seed over paths of at most ``max_hops`` edges (Bellman-Ford relaxation
    supersteps — the GraphX/Pregel ShortestPaths formulation).

    Per superstep only the vertices whose cost improved send; messages are
    min-combined before the shuffle.  The loop stops when no vertex
    improves, so rounds = longest useful hop count, not ``max_hops``.

    Non-negative weights assumed (standard SSSP contract; negative edges
    would need max_hops full rounds without early exit to be correct).
    Integer weights relax exactly; an external oracle replays bounded-hop
    relaxation as a recursive CTE over path enumeration + min().
    """
    return _shortest_paths(edges, seeds, max_hops, "cost", src=src, dst=dst, seed_col=seed_col,
                           checkpoint_dir=checkpoint_dir, weight=weight)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SEED set instead
    of uniformly (GraphX ``personalizedPageRank``) — "importance relative
    to these vertices", the standard recommendation/expansion primitive.

    Same supersteps as :func:`pagerank`, but the teleport term ``(1-d)``
    lands only on seeds; every other vertex keeps pure propagated mass.
    The seed flag is a vertex value carried through the supersteps.
    """
    return _ranks(edges, seeds.select(F.col(seed_col).alias("vertex")), src, dst, iterations, damping,
                  checkpoint_every, checkpoint_dir, F.sum)


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph → ``(vertex,
    scc)`` with ``scc`` = the component's minimum vertex id.

    The forward-backward coloring algorithm (the standard distributed SCC
    — GraphX's implementation has the same skeleton), as three fixpoints
    on the superstep engine over one cached graph that stores each edge in
    both directions; resolved vertices neither send nor accept:

    1. **trim** — an open vertex with no open in-neighbour or no open
       out-neighbour is a singleton SCC; peel repeatedly (kills DAG tails
       fast, the common mass of real graphs).
    2. **color** — propagate the min vertex id along FORWARD edges to
       fixpoint: ``color(v)`` = min id among open vertices that reach
       ``v``.  Roots are vertices with ``color(v) == v``.
    3. **backward reach** — from each root, walk REVERSED edges staying
       inside the root's color class (a successor's color is never above
       its predecessor's, so the max incoming color equals the receiver's
       own exactly when a reached successor shares its class).  The reached
       vertices are the root's SCC — every color class resolves its root's
       SCC in the same round, in parallel.
    4. repeat on the open vertices.

    Each inner fixpoint is O(active diameter) supersteps; outer rounds are
    bounded by the longest chain of SCCs not removed by trimming
    (``max_rounds`` caps it; the function raises if the cap is hit with
    vertices unresolved, never returns wrong labels).  Differentially
    tested against an in-memory Tarjan on random graphs.
    """
    e = edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
    both = e.select(F.inline(F.array(
        F.struct("src", "dst", F.lit(True).alias("fwd")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(False).alias("fwd")),
    )))
    is_open = F.col("scc").isNull()
    # trim messages: bit 1 = "you have an open in-neighbour", bit 2 = "... out-neighbour"
    trivial = is_open & (F.coalesce("__m", F.lit(0)) != 3)
    joins = is_open & F.coalesce(F.col("__m") == F.col("color"), F.lit(False))
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(both, "fwd", distinct=True)
        state = g.select("vertex", F.lit(None).cast("long").alias("scc"))
        for rnd in range(max_rounds + 1):
            # -- 1. trim ------------------------------------------------------
            state, seen = ss.pregel(
                g, state.withColumn(_ACTIVE, is_open),
                send=lambda el: F.when(is_open, F.when(el["fwd"], F.lit(1)).otherwise(F.lit(2))),
                combine=F.bit_or,
                apply={"scc": F.when(trivial, F.col("vertex")).otherwise(F.col("scc")), _ACTIVE: trivial},
                max_iter=_UNBOUNDED, active_only=False, stats={"open": F.count_if(is_open)},
            )
            if seen["open"] == 0:
                return state.select("vertex", "scc")
            if rnd == max_rounds:
                raise RuntimeError(f"SCC did not resolve within max_rounds={max_rounds}; raise the cap")
            # -- 2. forward min-id coloring to fixpoint -----------------------
            state, _ = ss.pregel(
                g, state.select("vertex", "scc", F.col("vertex").alias("color"), is_open.alias(_ACTIVE)),
                send=lambda el: F.when(el["fwd"], F.col("color")),
                combine=F.min,
                apply={"color": F.when(is_open, F.least("color", "__m")).otherwise(F.col("color")),
                       _ACTIVE: is_open & (F.col("__m") < F.col("color"))},
                max_iter=_UNBOUNDED,
            )
            # -- 3. backward reach from roots within each color class ---------
            root = is_open & (F.col("color") == F.col("vertex"))
            state, _ = ss.pregel(
                g, state.select("vertex", "scc", "color", root.alias("hit"), root.alias(_ACTIVE)),
                send=lambda el: F.when(~el["fwd"], F.col("color")),
                combine=F.max,
                apply={"hit": F.col("hit") | joins, _ACTIVE: ~F.col("hit") & joins},
                max_iter=_UNBOUNDED,
            )
            # -- 4. the reached vertices form their root's SCC ----------------
            state = state.select("vertex", F.when(F.col("hit"), F.col("color")).otherwise(F.col("scc")).alias("scc"))


def topological_levels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_levels: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """DAG layering: ``level(v)`` = length of the LONGEST path from any
    source (vertex with no incoming edge) to ``v`` — the scheduling
    depth used to batch dependency graphs (migration DAGs, pipeline
    stages) into parallel waves.

    Max-propagation fixpoint on the superstep engine: ``level(d) ←
    max(level(d), max over in-edges (level(s) + 1))``, sent only by
    vertices whose level rose, converges in longest-path-length supersteps
    on a DAG.  On a CYCLE the level keeps climbing — hitting
    ``max_levels`` with changes still flowing raises instead of returning
    wrong layers, so the operator doubles as cycle detection.
    """
    e = edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
    with _Supersteps(checkpoint_dir) as ss:
        g = ss.graph(e, distinct=True)
        lvl, seen = ss.pregel(
            g,
            g.select("vertex", F.lit(0).cast("long").alias("level")),
            send=lambda _: F.col("level") + 1,
            combine=F.max,
            apply={"level": F.greatest("level", "__m"), _ACTIVE: F.col("__m") > F.col("level")},
            max_iter=max_levels,
        )
        if not _quiet(seen):
            raise RuntimeError(
                f"levels still changing after max_levels={max_levels}: graph has a cycle "
                "(or raise the cap for a very deep DAG)"
            )
        return lvl.select("vertex", "level")


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int,
    start_col: str = "vertex",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic 'random' walks for graph-embedding prep (DeepWalk /
    node2vec corpus generation): from each start vertex, take ``length``
    steps, at each step choosing the neighbor with the minimum
    ``md5(walk|step|dst)`` — a portable hash draw, so the SAME walks come
    out on any engine, partitioning, or rerun (the walk id doubles as the
    seed; vary starts to vary walks).  Returns (walk, step, v) with
    step 0 = the start vertex; a walk ends early only at a dead end.

    Scale shape: ``length`` frontier equi-joins (frontier × out-degree
    candidate rows each), neighbor choice by ``min_by`` over a
    (hash, dst) struct — no window sort, no per-vertex collect; the
    candidate stream is the only shuffle per step.  This is the batch
    corpus-generation shape: at 100 TB you run millions of walks in one
    pass because every join step carries ALL walks at once.
    """
    from functools import reduce

    e = edges.select(F.col(src).alias("v"), F.col(dst).alias("__dst"))
    cur = starts.select(F.col(start_col).alias("walk"), F.col(start_col).alias("v"))
    rows = [cur.select("walk", F.lit(0).alias("step"), "v")]
    for t in range(1, int(length) + 1):
        cand = cur.join(e, "v")
        h = F.md5(
            F.concat_ws(
                "|",
                F.col("walk").cast("string"),
                F.lit(str(t)),
                F.col("__dst").cast("string"),
            )
        )
        cur = cand.groupBy("walk").agg(
            F.min_by(
                "__dst", F.struct(h.alias("h"), F.col("__dst").alias("d"))
            ).alias("v")
        )
        rows.append(cur.select("walk", F.lit(t).alias("step"), "v"))
    return reduce(lambda a, b: a.unionByName(b), rows)


def bfs_distances_per_source(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-source multi-source BFS: (source, vertex, dist) minimum hop
    distances from EACH seed separately (where :func:`bfs_distances`
    reports the minimum over ALL seeds).  The state key is
    (source, vertex), so all sources expand in the same supersteps — the
    all-sources-at-once shape centrality needs.  Frontier volume is
    Σ_s |reach_s(round)|; bound the seed set, not the graph.
    """
    return _shortest_paths(edges, seeds, max_depth, "dist", src=src, dst=dst, seed_col=seed_col,
                           checkpoint_dir=checkpoint_dir, per_source=True)


def closeness_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
) -> DataFrame:
    """Closeness + harmonic centrality for each seed over its ≤max_depth
    out-reachability: ``closeness = n_reached / Σ dist`` with ``n_reached``
    the count of OTHER vertices reached (0 when nothing is reached) and
    ``harmonic = Σ 1/dist`` — the standard influence scores, bounded-radius
    so the cost is the BFS, not APSP.

    Float determinism: both scores fold over the per-source
    (dist, count) histogram in ascending dist order via ``F.aggregate``
    on a sorted struct array — a fixed-order float sum, portable across
    partitionings and engines; rounded to 12.
    """
    d = bfs_distances_per_source(edges, seeds, max_depth, src, dst, seed_col)
    hist = d.where(F.col("dist") > 0).groupBy("source", "dist").agg(
        F.count(F.lit(1)).alias("n")
    )
    per = hist.groupBy("source").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dist").alias("d"), F.col("n").alias("n")))
        ).alias("__h")
    )
    n_reached = F.aggregate("__h", F.lit(0).cast("long"), lambda acc, x: acc + x["n"])
    sum_dist = F.aggregate(
        "__h", F.lit(0).cast("long"), lambda acc, x: acc + x["d"] * x["n"]
    )
    harmonic = F.aggregate(
        "__h",
        F.lit(0.0),
        lambda acc, x: acc + x["n"].cast("double") / x["d"],
    )
    out = per.select(
        "source",
        n_reached.alias("n_reached"),
        sum_dist.alias("sum_dist"),
        F.round(
            F.when(
                sum_dist > 0, n_reached.cast("double") / sum_dist
            ).otherwise(F.lit(0.0)),
            12,
        ).alias("closeness"),
        F.round(harmonic, 12).alias("harmonic"),
    )
    # seeds that reach nothing still get a row (scores 0)
    allseeds = seeds.select(F.col(seed_col).alias("source")).distinct()
    return (
        allseeds.join(out, "source", "left")
        .fillna({"n_reached": 0, "sum_dist": 0, "closeness": 0.0, "harmonic": 0.0})
    )
