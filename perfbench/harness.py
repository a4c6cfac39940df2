"""Shared run machinery: the Spark session the benchmark owns, the closed op
loop with its output checks, and the statistics every workload reports."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from tracing import Tracer

# One client, one op in flight (closed loop). The slot count and shuffle
# partitions are the same on both sides of every comparison.
SLOTS = min(4, os.cpu_count() or 1)
# below the reference host's 15 GiB of RAM (the engine defaults to 16g); the
# largest workload peaked near 2 GB of JVM RSS at this size
DRIVER_MEM = "3g"
# graph tables get one predicate bucket per slot, as bench.py's KG leaf does
N_BUCKETS = SLOTS


@dataclass
class OpRecord:
    op_type: str
    op: int
    ms: float
    ok: bool
    warmup: bool
    pass_no: int
    triples: int = 0


@dataclass
class Harness:
    work: str  # benchmark-owned scratch root, emptied per run
    seed: int
    seconds: int
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    pass_no: int = 0  # 0: the untraced pass; 1 and up: traced passes
    ops: list[OpRecord] = field(default_factory=list)
    _next_op: int = 0

    # -- session ---------------------------------------------------------------
    def start_session(self):
        """(Re)start the SparkSession. The first call launches the JVM; later
        calls reuse it and only rebuild the SparkContext."""
        if self.spark is not None:
            self.spark.stop()
        from p5_rdf_rdb2rdf_spark.session import get_spark

        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            cores=SLOTS,
            shuffle_partitions=SLOTS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # keep every job of a run in the status store for the trace
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.tracer.spark = self.spark
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - wedged JVM: kill it, then reap it
                proc.kill()
                proc.wait(timeout=30)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- ops -------------------------------------------------------------------
    def op(self, op_type: str, fn, check, warmup: bool = False) -> OpRecord:
        """Run one op, time it, check its output. An op that raises or fails
        its check is recorded as failed, never dropped. ``fn`` gets the op
        id and returns what ``check`` needs; ``check`` returns the number of
        triples the op wrote or raises ``AssertionError``."""
        op_id = self._next_op
        self._next_op += 1
        rec = OpRecord(op_type, op_id, 0.0, False, warmup, self.pass_no)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op_id, op_type=op_type):
                out = fn(op_id)
            rec.ms = (time.perf_counter() - t0) * 1000.0
            rec.triples = check(out)
            rec.ok = True
        except Exception:  # noqa: BLE001 - the op loop must go on; the failure is counted
            rec.ms = rec.ms or (time.perf_counter() - t0) * 1000.0
            print(f"op {op_id} ({op_type}) failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        self.ops.append(rec)
        return rec

    def measured(self, *op_types: str) -> list[OpRecord]:
        """The current pass's timed ops of the given types."""
        return [r for r in self.ops
                if not r.warmup and r.pass_no == self.pass_no and r.op_type in op_types]


def ops_for(seconds: int, nominal_s: float, minimum: int) -> int:
    """Op count for a run: fixed by count, derived from ``--seconds`` and the
    op's nominal cost on the reference host, never from elapsed time."""
    return max(minimum, round(seconds / nominal_s))


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (1 <= q <= 99), linearly interpolated."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def dir_bytes(*dirs: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under the given directories."""
    files = size = 0
    for d in dirs:
        for base, _dirs, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return files, size


def rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
