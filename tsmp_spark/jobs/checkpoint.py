"""Checkpoint / resume with per-partition lineage + metrics (north rule).

The Spark rendering of the reference's anytime/partial-results design
(mpx.cpp:76-79 ``partial`` flag; pmp.R:120-163 on.exit partial returns):
a long job is split into key-hash part ranges; each completed part commits
its output *and* a manifest row with lineage + metrics; a restarted job
reads the manifest and processes only missing parts. Partial results are
first-class — readers see every committed part.

Layout under ``base_dir``:
    output/part_id=<k>/...   committed results (parquet, atomic per part)
    manifest/                one parquet row per completed part:
        (part_id, rows, input_rows, wall_sec, finished_at, lineage)
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class CheckpointedJob:
    spark: SparkSession
    base_dir: str
    n_parts: int = 16
    key_col: str = "doc_id"

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.base_dir, "manifest")

    @property
    def output_dir(self) -> str:
        return os.path.join(self.base_dir, "output")

    def completed_parts(self) -> set[int]:
        try:
            rows = self.spark.read.parquet(self.manifest_dir).select("part_id").collect()
            return {r.part_id for r in rows}
        except Exception:
            return set()

    def part_filter(self, df: DataFrame, part_id: int):
        return df.filter(
            F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_parts)) == part_id
        )

    def run(
        self,
        input_df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        lineage: dict | None = None,
    ) -> DataFrame:
        """Process every not-yet-committed part; return the full output
        (committed + new). Re-running after an interrupt resumes exactly
        where it stopped — the per-round counterpart of the reference's
        interrupt-safe partial returns."""
        done = self.completed_parts()
        for part_id in range(self.n_parts):
            if part_id in done:
                continue
            t0 = time.time()
            part_in = self.part_filter(input_df, part_id)
            input_rows = part_in.count()
            out = transform(part_in)
            out_path = os.path.join(self.output_dir, f"part_id={part_id}")
            out.write.mode("overwrite").parquet(out_path)
            rows = self.spark.read.parquet(out_path).count()
            manifest_row = [
                (
                    part_id,
                    rows,
                    input_rows,
                    time.time() - t0,
                    time.time(),
                    json.dumps(lineage or {}),
                )
            ]
            (
                self.spark.createDataFrame(
                    manifest_row,
                    "part_id int, rows long, input_rows long, wall_sec double,"
                    " finished_at double, lineage string",
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(self.manifest_dir)
            )
        return self.spark.read.parquet(self.output_dir)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.manifest_dir)
