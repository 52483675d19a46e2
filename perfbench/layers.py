"""Traced run: spans around the public functions of the read path.

The request path is validate (``fields.validate_chain``) → fold
(``QueryExecutor.execute``) → Catalyst planning → execution → rendering
(``qlang.renderers.render_rows``), optionally behind ``http_api``.  The
tracer wraps those functions from outside the package while installed,
and records one sample per layer per traced chain.  Planning is forced
on the query's own ``QueryExecution`` before the collect, so the collect
that follows times execution only and reuses that plan.
"""

from __future__ import annotations

import time

LAYERS = (
    "fields.validate_ms",
    "qlang.executor.fold_ms",
    "qlang.executor.fold_jobs",
    "spark.plan_ms",
    "spark.exec_ms",
    "spark.exec_jobs",
    "spark.exec_stages",
    "spark.exec_tasks",
    "spark.executor_run_ms",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "qlang.renderers.self_ms",
    "qlang.renderers.rows",
)
# the layers whose times add up to a request's in-process latency
TIME_LAYERS = (
    "fields.validate_ms",
    "qlang.executor.fold_ms",
    "spark.plan_ms",
    "spark.exec_ms",
    "qlang.renderers.self_ms",
)


class _Collected:
    """Stands in for the DataFrame inside ``render_rows`` once its rows
    have been collected, so only the row conversion is timed."""

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class RequestTracer:
    """While installed and :attr:`active`, every chain executed through
    ``executor`` adds one sample per layer to :attr:`current`.  Callers
    start a request with :meth:`begin` and take its samples with
    :meth:`end`.  One traced request at a time."""

    def __init__(self, counters, executor):
        self.counters = counters
        self.executor = executor
        self.active = False
        self.current: dict[str, float] = {}
        self._saved = None

    def begin(self) -> None:
        self.current = {}
        self.active = True

    def end(self) -> dict[str, float]:
        self.active = False
        return self.current

    def _add(self, name: str, value: float) -> None:
        self.current[name] = self.current.get(name, 0.0) + value

    def install(self) -> "RequestTracer":
        from scalligraph_spark import fields
        from scalligraph_spark.qlang import renderers

        validate, render = fields.validate_chain, renderers.render_rows
        execute = self.executor.execute

        def traced_validate(*a, **kw):
            if not self.active:
                return validate(*a, **kw)
            t0 = time.perf_counter()
            try:
                return validate(*a, **kw)
            finally:
                self._add("fields.validate_ms", (time.perf_counter() - t0) * 1000.0)

        def traced_execute(*a, **kw):
            if not self.active:
                return execute(*a, **kw)
            with self.counters.span() as c:
                out = execute(*a, **kw)
            self._add("qlang.executor.fold_ms", c.wall_ms)
            self._add("qlang.executor.fold_jobs", c.jobs)
            return out

        def traced_render(df, *a, **kw):
            if not self.active:
                return render(df, *a, **kw)
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self._add("spark.plan_ms", (time.perf_counter() - t0) * 1000.0)
            with self.counters.span() as c:
                rows = df.collect()
            self._add("spark.exec_ms", c.wall_ms)
            self._add("spark.exec_jobs", c.jobs)
            self._add("spark.exec_stages", c.stages)
            self._add("spark.exec_tasks", c.tasks)
            self._add("spark.executor_run_ms", c.executor_run_ms)
            self._add("spark.shuffle_write_bytes", c.shuffle_write_bytes)
            self._add("spark.spill_bytes", c.spill_bytes)
            t1 = time.perf_counter()
            out = render(_Collected(rows), *a, **kw)
            self._add("qlang.renderers.self_ms", (time.perf_counter() - t1) * 1000.0)
            self._add("qlang.renderers.rows", len(rows))
            return out

        self._saved = (validate, render)
        fields.validate_chain = traced_validate
        renderers.render_rows = traced_render
        self.executor.execute = traced_execute
        return self

    def uninstall(self) -> None:
        from scalligraph_spark import fields
        from scalligraph_spark.qlang import renderers

        if self._saved is None:
            return
        fields.validate_chain, renderers.render_rows = self._saved
        del self.executor.execute  # back to the class method
        self._saved = None


def paired(tracer: RequestTracer, send, traced_first: bool):
    """Send one request twice, traced and untraced, in the given order.
    → (answer, layer samples, traced ms, untraced ms).  The traced
    sample's ``http_api.self_ms`` is the client latency the in-process
    layers do not cover (transport and the server's own work)."""
    ms, layer = {}, None
    for traced in ((True, False) if traced_first else (False, True)):
        if traced:
            tracer.begin()
        t0 = time.perf_counter()
        try:
            answer = send()
        finally:
            if traced:
                layer = tracer.end()
        ms[traced] = (time.perf_counter() - t0) * 1000.0
    layer["http_api.self_ms"] = ms[True] - sum(layer.get(k, 0.0) for k in TIME_LAYERS)
    return answer, layer, ms[True], ms[False]


def summarize(samples: list[dict], traced_ms: list[float], plain_ms: list[float]) -> dict:
    """Per-layer medians, tracing overhead and the layer-sum check."""
    from harness import median

    out = {k: median([s.get(k, 0.0) for s in samples]) for k in LAYERS + ("http_api.self_ms",)}
    lat = median(traced_ms)
    out["trace.overhead_ms"] = median([a - b for a, b in zip(traced_ms, plain_ms)])
    parts = sum(out[k] for k in TIME_LAYERS + ("http_api.self_ms",))
    out["trace.layer_sum_ratio"] = parts / lat if lat else 0.0
    return out
