"""The pipeline's stage runner: per-stage materialization with lineage +
resume (BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

:class:`StageCheckpointer` runs every stage one of three ways, recorded as
the stage record's ``materialized``:

- ``"parquet"`` (``root`` set): the output is written as a checkpoint table
  under ``root`` plus a ``_lineage`` entry (checkpoint dir, per-partition
  row counts, completion time). ``run_stage`` skips stages whose checkpoint
  is already complete, so a killed run resumes from the last complete stage
  with byte-identical results (deterministic transforms by construction —
  no rand(), no wall-clock values inside data).
- ``"persist"`` (``root=None``): the output is persisted and counted once;
  nothing is written to disk and there is no resume.
- ``"fused"`` (stage named in ``fuse``): the output stays lazy and fuses
  into its consumer's plan; ``rows`` is ``None``.

Every record also carries the stage's input names, its ``meta`` (e.g. the
mapping-IR JSON in force, SURVEY.md §3.6) and its wall time.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

LINEAGE = "_lineage.json"


class StageCheckpointer:
    """Stage runner. Without ``root`` the non-fused stages are persisted +
    counted instead of checkpointed: every stage with several downstream
    consumers must be materialized once, or each consumer re-runs the whole
    upstream chain (corpus synthesis + pandas-UDF extraction measured ~5x
    slower than the stage sum). ``unpersist()`` releases those frames."""

    def __init__(
        self, spark: SparkSession, root: str | None = None, fuse: Iterable[str] = ()
    ):
        self.spark = spark
        self.root = root
        self.fuse = frozenset(fuse)
        self._lineage: dict = {"stages": {}}  # the manifest when there is no root
        self._persisted: list[DataFrame] = []
        if root is not None:
            os.makedirs(root, exist_ok=True)

    # -- lineage manifest ----------------------------------------------------
    def _lineage_path(self) -> str:
        return os.path.join(self.root, LINEAGE)

    def lineage(self) -> dict:
        if self.root is None:
            return self._lineage
        try:
            with open(self._lineage_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"stages": {}}

    def _save_lineage(self, lin: dict) -> None:
        if self.root is None:
            return  # ``lin`` is the in-memory manifest itself
        tmp = self._lineage_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lin, f, indent=1)
        os.replace(tmp, self._lineage_path())

    # -- stages ----------------------------------------------------------------
    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, f"stage-{stage}")

    def is_complete(self, stage: str) -> bool:
        # only checkpointed records carry a dir
        return "dir" in self.lineage()["stages"].get(stage, {})

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_dir(stage))

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage. ``fn`` builds the stage's DataFrame;
        it only executes when the checkpoint is missing/incomplete."""
        if self.root is not None and self.is_complete(stage):
            return self.read(stage)
        t0 = time.time()
        df = fn()
        if stage in self.fuse:
            rec = {"materialized": "fused", "rows": None}
        elif self.root is None:
            df = df.persist()
            self._persisted.append(df)
            rec = {"materialized": "persist", "rows": df.count()}
        else:
            out_dir = self.stage_dir(stage)
            df.write.mode("overwrite").parquet(out_dir)
            df = self.read(stage)
            per_part = self._partition_rows(out_dir)
            rec = {
                "materialized": "parquet",
                "dir": out_dir,
                "rows": int(sum(p["rows"] for p in per_part)),
                "partitions": per_part,
                "completed_at": time.time(),
            }
        lin = self.lineage()
        lin["stages"][stage] = {
            "inputs": inputs or [],
            "meta": meta or {},
            **rec,
            "wall_sec": round(time.time() - t0, 3),
        }
        self._save_lineage(lin)
        return df

    def _partition_rows(self, out_dir: str) -> list[dict]:
        # Per-partition row counts come from the PARQUET FOOTERS of the files
        # just written — O(files) metadata reads, ZERO data scans. (The first
        # footer version used os.listdir + a sorted file index, which only
        # worked on the driver's local filesystem and mis-assigned partition
        # ids when a task committed several files — ADVICE r4. Now: any
        # Hadoop-supported URI via io.footers, partition ids parsed from the
        # part-file names and summed per id. Before THAT it was an
        # rdd.mapPartitions Python count: a full re-read of the checkpoint
        # per stage at 100 TB.)
        from .footers import parquet_file_rows, task_partition_id

        # Two passes: real task pids first, THEN tail slots for non-Spark-
        # named files — interleaving them let an alphabetically-early alien
        # file claim pid 0 and absorb a real partition's counts (review r5).
        rows_by_pid: dict[int, int] = {}
        unnamed: list[int] = []
        for fpath, rows in parquet_file_rows(self.spark, out_dir):
            pid = task_partition_id(fpath)
            if pid is None:
                unnamed.append(rows)
            else:
                rows_by_pid[pid] = rows_by_pid.get(pid, 0) + rows
        next_pid = max(rows_by_pid, default=-1) + 1
        for rows in unnamed:
            rows_by_pid[next_pid] = rows
            next_pid += 1
        return [{"partition": pid, "rows": rows_by_pid[pid]} for pid in sorted(rows_by_pid)]

    def unpersist(self) -> None:
        """Release the stage outputs this runner persisted (none when
        checkpointing)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def reset_from(self, stage: str) -> None:
        """Invalidate a checkpointed stage and everything recorded after it
        (fused records go too: they hold no data)."""
        lin = self.lineage()
        if stage not in lin["stages"]:
            return
        cutoff = lin["stages"][stage]["completed_at"]
        lin["stages"] = {
            k: v for k, v in lin["stages"].items()
            if v.get("completed_at", cutoff) < cutoff
        }
        self._save_lineage(lin)
