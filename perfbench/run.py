"""Quality-filter benchmark: one workload, closed loop, one job at a time.

    python3 perfbench/run.py --workload filter_stub --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout.  ``perfbench/README.md``
describes the method, the metrics and the checks.  The last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_RUNS = 3
# near_dup's run time stops falling after about five runs in a fresh
# JVM (filter_stub's after two): the set-up run and these come first
WARMUP_RUNS = 4
# One driver JVM with a fixed heap (-Xms = -Xmx, so peak RSS does not
# follow G1 heap growth); with <cores> Python workers the process tree
# peaks near 3 GB, well inside a 15 GiB box.
DRIVER_MEMORY = "2g"
T0 = time.perf_counter()
REQUIRED = ("dqmtools_spark/__init__.py", "tests/reference_impl.py", "artifacts")


def _log(msg: str) -> None:
    print(msg, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark local dirs, JVM and Python
    temp files) inside ``work``, and let Python workers import the
    package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(1, ROOT)


def start_session(work: str):
    from dqmtools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    and every other descendant process to end."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Runner:
    """Times runs of one workload and checks each result."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = self.failed = 0
        self.checks = []

    def one(self, tracer=None) -> float | None:
        """One timed run plus its check; returns wall seconds, or None
        if the run raised."""
        import workloads
        from tracing import NullTracer

        ctx = self.ctx
        ctx.tracer = tracer or NullTracer()
        ctx.spark.catalog.clearCache()
        os.sync()
        self.attempted += 1
        try:
            with ctx.tracer.span("run"):
                t0 = time.perf_counter()
                result = workloads.run_once(ctx)
                wall = time.perf_counter() - t0
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        check = workloads.check(ctx, result)
        self.checks.append(check)
        if not check.ok:
            _log(f"check failed: {check.detail}")
            self.failed += 1
        return wall

    def loop(self, seconds: float, tracer=None) -> list[tuple]:
        """Closed loop for ``seconds``, at least MIN_RUNS units.  A unit
        is one untraced run or, with a tracer, a (traced, untraced) pair
        whose order alternates from pair to pair, so that neither side
        is always the warmer one.  Returns the wall times of the units
        none of whose runs raised."""
        units, k = [], 0
        start = time.perf_counter()
        while (
            time.perf_counter() - start < seconds or len(units) < MIN_RUNS
        ) and self.failed < MIN_RUNS:
            if tracer is None:
                unit = (self.one(),)
            elif k % 2 == 0:
                traced = self.one(tracer)
                unit = (traced, self.one())
            else:
                plain = self.one()
                unit = (self.one(tracer), plain)
            k += 1
            if None not in unit:
                units.append(unit)
        return units


def bench(args, work: str) -> dict:
    import workloads
    from tracing import PeakRss, Tracer

    docs = args.docs or workloads.DOCS[args.workload]
    ctx = workloads.Ctx(
        name=args.workload, seed=args.seed, docs=docs, root=ROOT, work=work, tracer=None
    )
    _log(
        f"perfbench {args.workload} seed={args.seed} docs={docs} "
        f"master=local[{_cores()}] driver_memory={DRIVER_MEMORY} trace={args.trace}"
    )

    # set-up: session start + input generation to parquet + one
    # uncounted run of the timed plan (oracle time excluded)
    t0 = time.perf_counter()
    ctx.spark = start_session(work)
    workloads.generate(ctx)
    prep = time.perf_counter() - t0
    workloads.build_oracle(ctx)
    warm = Runner(ctx)
    wall = warm.one()
    if wall is None:
        raise RuntimeError("the set-up run of the timed plan raised")
    setup_s = prep + wall
    # uncounted warm-up, traced or not: JIT compilation and per-worker
    # caches settle before timing, as in a long-lived session
    warm_walls = [warm.one() for _ in range(WARMUP_RUNS)]
    _log(f"warm-up wall_s={[w and round(w, 3) for w in warm_walls]}")
    os.sync()

    tracer = Tracer() if args.trace else None
    runner = Runner(ctx)
    with PeakRss() as rss:
        units = runner.loop(args.seconds, tracer)
    if not units:
        raise RuntimeError("every timed run failed")
    correct = not warm.failed and runner.failed == 0
    plain = [u[-1] for u in units]

    rates = [docs / w for w in plain]
    q1, med, q3 = quartiles(rates)
    _log(
        f"runs: n={len(plain)} docs_per_s median={med:.1f} q1={q1:.1f} q3={q3:.1f} "
        f"wall_s={[round(w, 3) for w in plain]}"
    )
    _log(
        f"failed_ratio={runner.failed}/{runner.attempted}="
        f"{runner.failed / runner.attempted:.3f}"
    )
    recalls = [c.dup_recall for c in runner.checks if c.dup_recall is not None]
    if recalls:
        _log(f"dup_recall={statistics.median(recalls):.4f} (share of planted copies removed)")
    _log(_input_summary(ctx))
    _log("peak rss by process (MB): " + ", ".join(
        f"{k}={v / 1024:.0f}" for k, v in sorted(rss.at_peak.items())
    ))

    if not args.trace:
        _log(f"setup_s={setup_s:.3f} (session {prep:.3f} incl. input, set-up run {wall:.3f})")
        values = {
            "docs_per_s": med,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "keep_f1": statistics.median(c.keep_f1 for c in runner.checks),
        }
    else:
        import layers

        ctx.tracer = tracer
        with tracer.span("layers"):
            values = layers.spark_layers(ctx)
            values.update(layers.python_layers(ctx))
        runs = [s for s in tracer.spans if s["name"] == "run"]
        traced_wall = statistics.median(tracer.duration(s["id"]) for s in runs)
        values["trace.wall_s"] = traced_wall
        values["trace.unattributed_s"] = statistics.median(
            tracer.self_time(s["id"]) for s in runs
        )
        values["trace.overhead_s"] = statistics.median(t - u for t, u in units)
        _log(_blocking_path(tracer, runs))
        spans_path = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-s{args.seed}.json")
        tracer.dump(spans_path)
        _log(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
    return {
        "correct": bool(correct),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "values": values,
    }


def _input_summary(ctx) -> str:
    pages = ctx.pages
    mix = pages["lang"].value_counts(normalize=True).sort_index()
    parts = [f"inputs: docs={len(pages)}", "lang_mix=" + ",".join(f"{k}:{v:.2f}" for k, v in mix.items())]
    if ctx.ref is not None:
        parts.append(f"pii_share={(ctx.ref['pii_total'] > 0).mean():.3f}")
        parts.append(f"keep_share={ctx.ref['keep'].mean():.3f}")
    if ctx.planted:
        sources = list(ctx.planted.values())
        hot = max(sources.count(s) for s in set(sources))
        parts.append(f"dup_share={len(ctx.planted) / len(pages):.3f} hot_cluster={hot}")
    return " ".join(parts)


def _blocking_path(tracer, runs) -> str:
    """Median self time per span name along the traced runs."""
    names: dict[str, list[float]] = {}
    for run in runs:
        for s in tracer.spans:
            if s["trace"] == run["trace"]:
                names.setdefault(s["name"], []).append(tracer.self_time(s["id"]))
    return "blocking path self_s (median): " + ", ".join(
        f"{n}={statistics.median(v):.4f}" for n, v in names.items()
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0, help="override the workload's doc count")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        out = bench(args, work)
    finally:
        try:
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    values = out.pop("values")
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    out["metrics"] = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    for k, m in out["metrics"].items():
        _log(f"metric {k} = {m['value']:.6g} {m['unit']}")
    _log(f"total wall {time.perf_counter() - T0:.1f} s")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
