"""Benchmark runner: one workload, one seed, one closed-loop client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cutout_zonal --seed 1 --seconds 1 --trace 0

Set-up starts the engine's default session on ``local[<nproc>]``,
generates the seeded inputs (three times; the median counts) and does
the workload's one-time build.  Requests then run back to back for
``--seconds`` (at least one); the first one's latency is the
end-to-end number.  Every request's result is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The line
before it holds the workload's detailed report (named metrics with
sample counts, set-up breakdown, host).  With ``--trace 1`` requests
alternate traced and untraced, so the report includes the tracing
overhead, after one untraced first request that is kept apart; spans
go to ``.perfbench_work/<workload>/spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "first_request_s": "s", "correct_share": "share"}
DETAIL_UNITS = {"recall_at_10": "share", "write_amp": "ratio",
                "prepare_rows_per_s": "1/s"}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_session(tracer, layers: dict):
    from perfbench.workloads import timed

    with timed(tracer, "session.get_spark_s", layers):
        from geodata_spark.session import get_spark

        spark = get_spark(
            "geodata_spark_perfbench",
            master=f"local[{os.cpu_count()}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    with timed(tracer, "deploy.ensure_py_files_s", layers):
        from geodata_spark.deploy import ensure_py_files

        ensure_py_files(spark)
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full", work_root: str | None = None) -> tuple[dict, dict]:
    """Run one workload; return (result line, detail report)."""
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Context, timed

    work_root = work_root or os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, workload)
    _isolate(work_root)
    tracer = Tracer(trace)
    setup_layers: dict[str, float] = {}
    attempted = failed = 0
    latencies: list[float] = []
    untraced: list[float] = []
    per_request: list[dict] = []

    spark = None
    with RssSampler() as rss:
        try:
            t_setup = time.perf_counter()
            with tracer.root("setup"):
                spark = _start_session(tracer, setup_layers)
                ctx = Context(spark, tracer, work, seed, scale)
                wl = WORKLOADS[workload](ctx)
                gen_s = []
                for rep in range(SETUP_REPS):
                    t = {}
                    with timed(tracer, "bench.gen_s", t):
                        wl.inputs(rep)
                    gen_s.append(t["bench.gen_s"])
                t_build = time.perf_counter()
                wl.build()
                build_s = time.perf_counter() - t_build
            # session and one-time build once, input generation by its median
            setup_s = (setup_layers["session.get_spark_s"]
                       + setup_layers["deploy.ensure_py_files_s"]
                       + _median(gen_s) + build_s)
            setup_wall = time.perf_counter() - t_setup
            with tracer.root("oracle"):
                t_oracle = time.perf_counter()
                wl.oracle()
                oracle_s = time.perf_counter() - t_oracle
            attempted += len(wl.checks)
            failed += wl.checks.count(False)

            def one(i: int, traced: bool) -> float:
                nonlocal attempted, failed
                layers = {} if traced else None
                tracer.enabled = traced
                t0 = time.perf_counter()
                try:
                    with tracer.root(f"request-{i}"):
                        ok = wl.request(i, layers)
                except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
                    traceback.print_exc()
                    ok = False
                lat = time.perf_counter() - t0
                attempted += 1
                failed += 0 if ok else 1
                if layers:
                    per_request.append(layers)
                return lat

            # the first request of a fresh session pays the JIT and the
            # Python workers' start: it is the latency an invocation of
            # the engine sees.  A traced run reads its layers warm, so
            # it sends that first request untraced and keeps it apart.
            i = 0
            warmup: list[float] = []
            if trace:
                warmup.append(one(i, False))
                i += 1
                wl.forget_requests()
            t_run = time.perf_counter()
            first = i
            # a traced run needs at least one traced and one untraced request
            min_requests = 2 if trace else 1
            while time.perf_counter() - t_run < seconds or i - first < min_requests:
                traced = trace and (i - first) % 2 == 0
                (latencies if traced or not trace else untraced).append(one(i, traced))
                i += 1
        finally:
            tracer.enabled = trace
            if spark is not None:
                _stop_session(spark)

    n_req = len(latencies) + len(untraced)
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "scale": scale, "host": {"nproc": os.cpu_count(), "mem_gb": _mem_gb()},
        "requests": n_req,
        "setup": {"setup_s": setup_s, "setup_wall_s": setup_wall,
                  "gen_s": gen_s, "build_s": build_s, "oracle_s": oracle_s},
    }
    share_failed = failed / attempted if attempted else 1.0
    e2e = {
        "setup_s": setup_s,
        "first_request_s": (warmup + latencies)[0],
        "correct_share": 1.0 - share_failed,
    }
    detail["end_to_end"] = e2e
    # every metric by name, with its unit and sample count
    counts = {"setup_s": len(gen_s), "first_request_s": 1, "correct_share": attempted}
    report = {k: {"value": v, "unit": E2E_UNITS[k], "n": counts[k]} for k, v in e2e.items()}
    # requests after the first, when the window holds any
    later = untraced if trace else latencies[1:]
    if later:
        report["request_p50_s"] = {"value": _median(later), "unit": "s", "n": len(later)}
    report["failed_share"] = {"value": share_failed, "unit": "share", "n": attempted}
    report["peak_rss_gb"] = {"value": rss.peak / 2**30, "unit": "GB", "n": rss.samples}
    for k, xs in wl.detail.items():
        report[k] = {"value": _median(xs), "unit": DETAIL_UNITS.get(k, "s"), "n": len(xs)}
    detail["report"] = report

    if trace:
        layers = dict(setup_layers)
        layers.update(wl.layers)
        layers["bench.gen_s"] = _median(gen_s)
        keys = {k for r in per_request for k in r if not k.startswith("_")}
        for k in keys:
            layers[k] = _median([r[k] for r in per_request if k in r])
        for k, m in report.items():
            if k not in e2e:
                layers[k] = m["value"]
        layers["bench.trace_overhead_s"] = _median(latencies) - _median(untraced)
        detail["per_layer"] = layers
        tracer.write(os.path.join(work, "spans.jsonl"))
        detail["spans"] = len(tracer.spans)

    spec = _load_spec()
    if trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        source = detail["per_layer"]
    else:
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        source = e2e
    metrics = {name: {"value": float(source.get(name, 0.0)), "unit": unit}
               for name, unit in wanted.items()}
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, detail


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geodata_spark")):
        print(f"perfbench: no geodata_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
