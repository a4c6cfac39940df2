"""Benchmark entry point.

    python3 perfbench/run.py --workload rdb_map --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the engine. One process runs one
workload on ``local[4]`` Spark with one client issuing one op at a time,
checks every op's output, and prints its figures, then as the last line of
standard output one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics
``BENCHMARK.json`` lists; with ``--trace 1`` they are its per-layer metrics,
from a traced pass that follows an untraced one (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# sessions per run; set-up time is the median over them
SETUP_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _own_environment(work: str) -> None:
    """Keep every file Spark and Python write under ``work``, and pin the
    settings both sides of a comparison must share."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM spark-submit starts: no /tmp/hsperfdata file, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_EXECUTOR_MEM"):
        os.environ.pop(k, None)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "p5_rdf_rdb2rdf_spark", "__init__.py")):
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    spec = _spec()
    sys.path.insert(0, ROOT)

    from harness import SLOTS, Harness, dir_bytes
    from tracing import Tracer, instrument_engine, jvm_memory_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _own_environment(work)
    h = Harness(work, args.seed, args.seconds, tracer=Tracer())
    wl = WORKLOADS[args.workload](h)
    restore = instrument_engine(h.tracer, dir_bytes) if args.trace else None
    lines: list[str] = []
    try:
        reps, starts = [], []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            h.start_session()
            starts.append(time.perf_counter() - t0)
            wl.build_inputs(h.path(f"inputs-{r}"))
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        wl.warm_up()
        once = time.perf_counter() - t0
        setup_s = statistics.median(reps) + once
        lines.append(f"setup: sessions+inputs {[round(x, 3) for x in reps]} s "
                     f"(session starts {[round(x, 3) for x in starts]} s), "
                     f"prepare+warm-up {once:.3f} s")

        h.pass_no = 0
        wl.run_ops()
        e2e = {"setup_s": (setup_s, "s"), **wl.end_to_end()}
        if args.trace:
            h.tracer.enabled = True
            h.pass_no = 1
            wl.run_ops()
            traced = wl.end_to_end()
            tail = wl.traced_tail()
            h.tracer.enabled = False
            h.tracer.finish()
            layers = _per_layer(h, wl, e2e, traced, SLOTS, jvm_memory_mb)
            trace_path = os.path.join(ROOT, ".perfbench",
                                      f"trace-{args.workload}-seed{args.seed}.json")
            h.tracer.write(trace_path)
            lines.append(f"spans: {trace_path}")
            for k, (v, u) in traced.items():
                lines.append(f"traced {k} = {v:.6g} {u}")
            for k, (v, u) in tail.items():
                lines.append(f"{k} = {v:.6g} {u}")
    finally:
        if restore is not None:
            restore()
        h.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in h.ops if not r.ok)
    for k, (v, u) in e2e.items():
        lines.append(f"{k} = {v:.6g} {u}")
    lines.append(f"fail_frac = {failed / len(h.ops):.6g} ratio")
    for op_type in dict.fromkeys(r.op_type for r in h.ops):
        n = [r for r in h.ops if r.op_type == op_type]
        lines.append(f"ops[{op_type}] = {len(n)} ({sum(r.warmup for r in n)} warm-up, "
                     f"{sum(not r.ok for r in n)} failed): "
                     f"{[round(r.ms) for r in n]} ms")
    if args.trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names.items()}
        unknown = sorted(set(layers) - set(names))
        if unknown:
            print(f"perfbench: per-layer metrics missing from BENCHMARK.json: {unknown}",
                  file=sys.stderr)
            return 3
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in names.items()}
    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": len(h.ops), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def _per_layer(h, wl, untraced, traced, slots, jvm_memory_mb) -> dict[str, float]:
    out = dict(wl.per_layer())
    op_ms = {}
    for r in h.ops:
        if r.pass_no >= 1 and not r.warmup:
            op_ms.setdefault(r.op_type, {})[r.op] = r.ms
    for op_type in ("map", "build", "lookup", "query", "merge"):
        counters = h.tracer.session_counters(op_type, op_ms.get(op_type, {}), slots)
        for k, v in counters.items():
            out[f"session.{op_type}.{k}"] = v
    peak, live = jvm_memory_mb(h.spark)
    out["session.peak_rss_mb"] = peak
    out["session.live_heap_mb"] = live
    base = untraced["op_ms_p50"][0]
    out["trace.overhead_ms"] = traced["op_ms_p50"][0] - base
    out["trace.overhead_frac"] = out["trace.overhead_ms"] / base
    return out


if __name__ == "__main__":
    sys.exit(main())
