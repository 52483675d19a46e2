"""Benchmark entry point.

    python3 perfbench/run.py --workload api_read --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from ``--seed``, sets the system up
``SETUP_REPS`` times (median reported as ``setup_s``), measures for
``--seconds`` and checks every answer.  ``--trace 0`` prints the
end-to-end metrics from an untraced run, ``--trace 1`` the per-layer
metrics from a traced run of the same workload and seed.  The last line
of standard output is one JSON object; the exit code is non-zero when any
answer was wrong or an operation failed.

    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json
"""

from __future__ import annotations

import argparse
import importlib
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

SETUP_REPS = 3


class Context:
    def __init__(self, args, root: str):
        self.seed = int(args.seed)
        self.seconds = float(args.seconds)
        self.root = root
        self.repo = REPO
        self.data_dir = os.path.join(root, "data", "base")

    def rep_data_dir(self, rep: int) -> str:
        """A per-rep view of the generated tables (hard links), so each
        set-up builds its catalog from a path no earlier rep cached."""
        d = os.path.join(self.root, "data", f"rep{rep}")
        if not os.path.isdir(d):
            os.makedirs(d)
            for f in os.listdir(self.data_dir):
                os.link(os.path.join(self.data_dir, f), os.path.join(d, f))
        return d


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=[n for n, _ in metrics.WORKLOADS + metrics.MANUAL_WORKLOADS])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-manifest", action="store_true", help="write BENCHMARK.json and exit")
    args = p.parse_args(argv)
    if not args.write_manifest and args.workload is None:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    # a run stopped from outside still stops its JVM and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse(argv)
    if args.write_manifest:
        print(metrics.write_manifest(REPO))
        return 0
    if not os.path.isdir(os.path.join(REPO, "scalligraph_spark")):
        print(f"perfbench: no scalligraph_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2

    import harness

    root = harness.isolate(REPO)
    sys.path.insert(0, REPO)
    ctx = Context(args, root)
    wl = importlib.import_module(f"workloads.{args.workload}")
    spark = state = None
    try:
        t0 = time.perf_counter()
        wl.prepare(ctx)
        print(f"# inputs generated in {time.perf_counter() - t0:.2f} s", flush=True)
        starts, fixtures = [], []
        for rep in range(SETUP_REPS):
            if state is not None:
                wl.teardown(state)
            t0 = time.perf_counter()
            spark = harness.start_session(root)
            t1 = time.perf_counter()
            state = wl.setup(spark, ctx, rep)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            fixtures.append(t2 - t1)
        print(f"# set-up reps (start, fixtures) s: "
              f"{[(round(a, 3), round(b, 3)) for a, b in zip(starts, fixtures)]}", flush=True)
        setup_s = harness.median([a + b for a, b in zip(starts, fixtures)])
        t0 = time.perf_counter()
        out = (wl.trace if args.trace else wl.measure)(spark, state, ctx)
        print(f"# measured in {time.perf_counter() - t0:.2f} s", flush=True)
        if args.trace:
            layers = dict(out["layers"])
            layers["session.start_s"] = harness.median(starts)
            layers["setup.fixtures_s"] = harness.median(fixtures)
            shown = {n: (layers.get(n, 0.0), u) for n, u, _ in metrics.PER_LAYER}
        else:
            e2e = dict(out["e2e"], setup_s=setup_s)
            shown = {n: (e2e[n], u) for n, u, _, _ in metrics.END_TO_END}
            out.setdefault("extra", {})["peak_rss_mb"] = (harness.peak_rss_mb(spark), "MB")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if state is not None:
            try:
                wl.teardown(state)
            except Exception:
                traceback.print_exc()
        if spark is not None:
            try:
                harness.shutdown(spark)
            except Exception:
                traceback.print_exc()
        harness.cleanup(root)

    attempted, failed = out["attempted"], out["failed"]
    for note in out.get("notes", []):
        print(f"# {note}")
    extra = dict(out.get("extra", {}))
    extra["error_frac"] = (failed / attempted if attempted else 1.0, "1")
    for name, (value, unit) in list(extra.items()) + list(shown.items()):
        print(f"{name:44s} {value:16.6f} {unit}")
    correct = out.get("wrong", 0) == 0 and attempted > 0
    print(harness.result_line(correct, max(attempted, 1), failed, shown), flush=True)
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
