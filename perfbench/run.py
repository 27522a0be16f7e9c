"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload geo_raster --seed 1 --seconds 1 --trace 0

Run from the repository root. The run is a closed loop with one
client: after set-up it calls every op of the workload in turn, checks
each output against a reference, and repeats whole passes until
``--seconds`` have gone by (at least one pass). ``--trace 0`` prints
the end-to-end metrics. ``--trace 1`` turns on Spark's status store,
prints the per-layer metrics instead, and writes spans and counters to
``.perfbench/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# a run must end well inside the 180 s a caller allows it
RUN_LIMIT_S = 150.0

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
# input set-ups per run after the first, cold one (which pays the
# first Spark jobs' JIT); setup_s counts the median of these warm ones
WARM_SETUPS = 3


def load_spec() -> dict:
    """BENCHMARK.json: the workload names and every metric with its unit."""
    with open(SPEC_PATH) as f:
        return json.load(f)


# the traced run only: a live status store that keeps every stage
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def pin_env():
    """Make runs comparable: Spark sized to the cores this process may
    use, the repository importable in Python workers, every scratch
    file inside the checkout, and the program's default heap."""
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *path])
    os.environ.pop("SPARK_DRIVER_MEM", None)
    sys.path.insert(0, ROOT)


def stop_spark(spark):
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def describe(e: Exception) -> str:
    lines = [x.strip() for x in str(e).splitlines() if x.strip()] or [""]
    # a Python-worker failure carries the worker's traceback; its last
    # line names the error raised there
    text = lines[-1] if type(e).__name__ == "PythonException" else lines[0]
    return f"{type(e).__name__}: {text[:300]}"


class Runner:
    """Calls and checks ops, and keeps the tallies of one run. With
    ``rest`` and ``spans`` set, it also records each op's counters."""

    def __init__(self, spark, sampler):
        self.spark = spark
        self.sampler = sampler
        self.rest = None
        self.spans = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counters: dict[str, list[dict]] = {}
        self.collect_s = 0.0
        self.check_s = 0.0
        self.op_s: dict[str, list[float]] = {}

    def run_pass(self, ops, label: str) -> tuple[float, float, list]:
        """Call every op once; returns (wall_s, cpu_s, outcomes). The
        wall time leaves out the status-store reads of a traced run."""
        sc = self.spark.sparkContext
        collect0 = self.collect_s
        cpu0 = self.sampler.cpu_s()
        t0 = time.perf_counter()
        outcomes = []
        for op in ops:
            group = f"{op.name}#{label}"
            if self.rest is not None:
                sc.setJobGroup(group, group)
            start = time.time()
            a = time.perf_counter()
            try:
                result, error = op.call(), None
            except Exception as e:  # an op that raises is a failed op
                result, error = None, describe(e)
            secs = time.perf_counter() - a
            outcomes.append((op, result, error, secs))
            self.op_s.setdefault(op.name, []).append(secs)
            if self.rest is not None:
                c0 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                counters = self.rest.op_counters(group)
                self.spans.add(op.name, start, start + secs, run=label, error=error, **counters)
                counters["s"] = secs
                self.counters.setdefault(op.name, []).append(counters)
                self.collect_s += time.perf_counter() - c0
        wall = time.perf_counter() - t0 - (self.collect_s - collect0)
        cpu = self.sampler.cpu_s() - cpu0
        return wall, cpu, outcomes

    def check(self, outcomes, count=True):
        """Check each outcome against its reference; returns the failures."""
        t0 = time.perf_counter()
        bad = []
        for op, result, error, _ in outcomes:
            if error is None:
                try:
                    op.check(result)
                except Exception as e:  # a malformed result is a wrong one
                    error = f"wrong output: {type(e).__name__}: {e}"
            if op.cleanup is not None:
                op.cleanup()
            if error is not None:
                bad.append(f"{op.name}: {error}")
            if count:
                self.attempted += 1
                self.failed += error is not None
        if count:
            self.errors += bad
        self.check_s += time.perf_counter() - t0
        return bad


def time_kernels(rng) -> dict:
    """Spark-free kernels, timed standalone in the driver (median of 3)."""
    import numpy as np

    import gen
    from geokit_spark import fixtures
    from geokit_spark.constants import TILE_SIZE, XSPAN, XMIN, YSPAN, YMIN
    from geokit_spark.kernels.pip import points_in_poly
    from geokit_spark.operators.components import label_block
    from geokit_spark.sources.pages import extract_main_text

    def med(fn):
        ts = []
        for _ in range(3):
            a = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - a)
        return statistics.median(ts)

    n = 1_000_000
    lon = XMIN + XSPAN * rng.random(n)
    lat = YMIN + YSPAN * rng.random(n)
    m = gen.land_cover(rng, gen.GEO_RASTER)
    t = TILE_SIZE
    tiles = [m[y:y + t, x:x + t] for y in range(0, m.shape[0], t) for x in range(0, m.shape[1], t)]
    docs = gen.crawl_docs(rng, dict(gen.CRAWL_TEXT, n_docs=5000))
    html = [
        f"<html><body><h1>{s}</h1><p>{x}</p><footer>crawl</footer></body></html>".encode()
        for x, s in zip(docs["text"], docs["source"])
    ]
    return {
        "kernels.pip.points_per_s": n / med(lambda: points_in_poly(lon, lat, fixtures.REGION_VERTS)),
        "components.label_block.tiles_per_s": len(tiles) / med(lambda: [label_block(b) for b in tiles]),
        "pages.extract_main_text.pages_per_s": len(html) / med(lambda: [extract_main_text(h) for h in html]),
    }


def layer_metrics(runner, wl, args, units: dict, measured: dict) -> dict:
    """Per-layer metrics of a traced run, one per name in ``units``.
    ``measured`` holds the run-level values (set-up parts, peaks, trace
    totals); ``<op>.<counter>`` is the median over the op's calls, and
    reads 0 for an op that is not in this workload."""
    import numpy as np

    def counter(op: str, key: str) -> float:
        runs = runner.counters.get(op, [])
        return float(statistics.median(r[key] for r in runs)) if runs else 0.0

    vals = {**time_kernels(np.random.default_rng([args.seed, 7])), **measured}
    if args.workload == "geo_raster":
        # rows out of the op's own candidate join, from its SQL metrics
        vals["spatial_join.docs_join_zones.cand_rows_frac"] = (
            counter("spatial_join.docs_join_zones", "join_rows") / wl.params["n_pages"]
        )
    else:
        cands = counter("dedup.simhash_near_pairs", "join_rows")
        vals["dedup.simhash_near_pairs.pairs_per_candidate"] = (
            len(wl.crawl.ref_simhash) / cands if cands else 0.0
        )
    out = {}
    for name, unit in units.items():
        if name not in vals:
            op, key = name.rsplit(".", 1)
            vals[name] = counter(op, key)
        out[name] = {"value": vals[name], "unit": unit}
    return out


def set_up(spark, args):
    """Build and cache the workload's inputs 1 + WARM_SETUPS times, each
    time from the same seed, dropping the previous copy first; returns
    the last copy and the time of each set-up."""
    import gen
    import workloads

    wl, times = None, []
    for _ in range(1 + WARM_SETUPS):
        if wl is not None:
            wl.release()
        a = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, gen.rng_for(args.seed, args.workload), OUT)
        times.append(time.perf_counter() - a)
    return wl, times


def run_workload(spark, runner, args, spec: dict, session_s: float, ready_s: float):
    """Set up the workload, time its passes and the probe; returns
    (metrics, pass wall times, probe failures)."""
    from tracing import RestStore, Spans

    wl, setups = set_up(spark, args)
    print(f"perfbench: ready {ready_s:.2f} s, get_spark {session_s:.2f} s, "
          f"set-ups {[round(x, 2) for x in setups]} s", file=sys.stderr)
    if args.trace:
        runner.rest = RestStore(spark)
        runner.spans = Spans(f"run:{args.workload}:seed{args.seed}")

    # no untimed warm-up: each run is one cold batch job, and the first
    # call of an op (JIT, class loading, Python-worker start) is part of
    # what that job costs (README.md, "Warm-up")
    walls, cpus = [], []
    t_phase = time.perf_counter()
    while True:
        wall, cpu, outcomes = runner.run_pass(wl.ops(), f"pass{len(walls)}")
        walls.append(wall)
        cpus.append(cpu)
        runner.check(outcomes)
        now = time.perf_counter()
        # stop after --seconds, or before a further pass could push the
        # run past its time limit
        if now - t_phase >= args.seconds or now - T_START + 2 * wall > RUN_LIMIT_S:
            break

    dirty = []
    if hasattr(wl, "dirty_op"):
        # robustness probe after the timed phase: outside job_s and
        # cpu_s, and outside attempted/failed (README.md)
        _, _, out = runner.run_pass([wl.dirty_op()], "dirty")
        dirty = runner.check(out, count=False)

    job_s = statistics.median(walls)
    if not args.trace:
        metrics = {
            # process start to a ready session, plus one input set-up
            "setup_s": ready_s + statistics.median(setups[1:]),
            "job_s": job_s,
            "rows_per_s": wl.input_rows / job_s,
            "cpu_s": statistics.median(cpus),
            "worker_rss_mb": runner.sampler.peak_workers_mb(),
            "ok_ops_frac": (runner.attempted - runner.failed) / runner.attempted,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}, walls, dirty

    split = runner.sampler.peak_split_mb()
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    metrics = layer_metrics(runner, wl, args, units, {
        "session.get_spark_s": session_s,
        "input.generate_s": setups[0],
        "process.peak_rss_mb": runner.sampler.peak_rss_mb(),
        "process.peak_rss_java_mb": split.get("java", 0.0),
        "process.peak_rss_python_mb": sum(v for k, v in split.items() if k.startswith("python")),
        "dirty_pages.failed": float(len(dirty)),
        "trace.job_s": job_s,
        "trace.collect_s": runner.collect_s,
    })
    runner.spans.write(
        os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
        metrics=metrics, passes=walls, errors=runner.errors,
    )
    return metrics, walls, dirty


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geokit_spark", "session.py")):
        print(f"perfbench: no geokit_spark package under {ROOT}", file=sys.stderr)
        return 2
    pin_env()

    from proc import TreeSampler

    from geokit_spark.session import get_spark

    sampler = TreeSampler().start()
    a = time.perf_counter()
    spark = get_spark("perfbench", extra=TRACE_CONF if args.trace else None)
    session_s = time.perf_counter() - a
    ready_s = time.perf_counter() - T_START
    runner = Runner(spark, sampler)
    try:
        metrics, walls, dirty = run_workload(spark, runner, args, spec, session_s, ready_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        sampler.stop()
    print(f"perfbench: {args.workload} seed {args.seed}: passes "
          f"{[round(w, 3) for w in walls]} s, checks {runner.check_s:.1f} s, "
          f"total {time.perf_counter() - T_START:.1f} s, "
          f"peak RSS by process {sampler.peak_split_mb()} MB", file=sys.stderr)
    for name, secs in runner.op_s.items():
        print(f"perfbench: op {name} {[round(x, 3) for x in secs]} s", file=sys.stderr)
    for e in runner.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    for e in dirty:
        print(f"perfbench: known failure, not counted: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
