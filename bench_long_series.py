"""Long-series fan-out evidence: a ≥10⁸-token SINGLE series through the
diagonal-chunk path with measured shuffle bytes (SCALE.md §1; round-4
VERDICT "What's wrong #2" done-criterion).

Round-5 design under test (operators/matrix_profile.py
`_matrix_profile_chunked_nested` with ``series_store``):
- fan rows carry ONLY (doc_id, chunk_id); the tokens reach chunk tasks
  through the SIDE-CHANNEL BLOCK STORE — (doc_id, block_id, block)
  parquet rows written once, read per task via pyarrow doc-filtered
  scans. NO broadcast of the tokens in the plan (asserted below) and no
  token bytes through any exchange: the only shuffle is the trimmed
  segment partials, so shuffle stays O(touched profile), not O(series ×
  n_chunks). A 10⁸-token series is 0.4 GB int32 — already past the
  comfort zone of a broadcast (and 10⁹ would exceed Spark's hard 8 GB
  broadcast limit);
- partials ship as SEGMENTS and merge per (doc_id, seg) — bounded task
  memory (n_chunks × 64k × 12 B), untouched segments trimmed;
- nested reassembly via JVM collect_list/array_sort/flatten.

Work bound: an exact full matrix profile of a 10⁸-point series is
~5·10¹⁵ pairs — years of CPU anywhere, so the harness restricts the
sweep to the top `DIAG_BAND` diagonals via the exclusion-zone parameter
(minlag = plen − band). That is a REAL parameter path (the operator's
own API); the distribution machinery — fan, store reads, full-length
partial arrays in flight, per-segment merges, reassembly — runs at the
true 10⁸-position shape, which is what this harness measures. Kernel
FLOP throughput at scale is covered by bench.py / bench_scaling.py.

Run ALONE:  python bench_long_series.py   → BENCH_LONG_SERIES.json
Env: LONG_SERIES_TOKENS (default 100_000_000), LONG_DIAG_BAND (20_000),
     LONG_N_CHUNKS (32), SPARK_GRAFT_CPUS (32), LONG_STORE (default
     /tmp/tsmp_long_series_store).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.request

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsmp_spark.session import get_spark


def _stages(spark) -> list[dict]:
    url = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}/stages?status=complete"
    )
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    n_tok = int(os.environ.get("LONG_SERIES_TOKENS", "100000000"))
    band = int(os.environ.get("LONG_DIAG_BAND", "20000"))
    n_chunks = int(os.environ.get("LONG_N_CHUNKS", "32"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    store = os.environ.get("LONG_STORE", "/tmp/tsmp_long_series_store")
    shutil.rmtree(store, ignore_errors=True)  # each run adds a fresh subdirectory
    w = 256

    spark = get_spark(
        app_name="tsmp_long_series",
        cpus=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )

    # one deterministic random-walk series, built distributed (the driver
    # never holds the tokens): 64 shard rows -> kernel walk -> one row
    shard = n_tok // 64

    def gen(batches):
        for pdf in batches:
            rows = []
            for sid in pdf["id"]:
                rng = np.random.default_rng(42 + int(sid))
                rows.append(
                    {
                        "shard": int(sid),
                        "toks": np.cumsum(
                            rng.choice(np.array([-1, 1], dtype=np.int32), size=shard)
                        ).astype(np.int32),
                    }
                )
            yield pd.DataFrame(rows)

    shards = (
        spark.range(64)
        .repartition(64)
        .mapInPandas(gen, "shard int, toks array<int>")
    )
    series = (
        shards.groupBy(F.lit("doc-0").alias("doc_id"))
        .agg(F.array_sort(F.collect_list(F.struct("shard", "toks"))).alias("s"))
        .select(
            "doc_id", F.flatten(F.transform("s", lambda t: t["toks"])).alias("tokens")
        )
        .persist()
    )
    n_actual = series.select(F.size("tokens")).first()[0]
    plen = n_actual - w + 1
    ez = (plen - band - 1) / w  # minlag = ez_n + 1 = plen - band

    from tsmp_spark.operators.matrix_profile import matrix_profile_nested

    before = max((st["stageId"] for st in _stages(spark)), default=-1)
    t0 = time.time()
    prof = matrix_profile_nested(
        series,
        w,
        exclusion_zone=ez,
        long_series_threshold=1 << 20,
        n_chunks=n_chunks,
        series_store=store,
    )
    plan = prof._jdf.queryExecution().executedPlan().toString()
    no_broadcast = (
        "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    )
    out = prof.select(
        F.size("mp").alias("n_pos"),
        F.expr("aggregate(mp, 0L, (acc, x) -> acc + CASE WHEN x IS NULL THEN 0 ELSE 1 END)").alias(
            "n_defined"
        ),
    ).collect()[0]
    wall = time.time() - t0

    write_b = read_b = 0
    fan_stages = []
    for st in _stages(spark):
        if st["stageId"] > before:
            write_b += st.get("shuffleWriteBytes", 0)
            read_b += st.get("shuffleReadBytes", 0)
            fan_stages.append(
                {
                    "stage": st["stageId"],
                    "name": st.get("name", "")[:60],
                    "write_mb": round(st.get("shuffleWriteBytes", 0) / 1e6, 1),
                    "tasks": st.get("numCompleteTasks"),
                }
            )

    series_bytes = n_actual * 4  # int32 tokens
    profile_bytes = plen * 12  # f64 mp + i32 pi
    import glob
    store_bytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{store}/**", recursive=True)
        if os.path.isfile(p)
    )
    result = {
        "metric": "long-series diagonal-chunk fan-out, single series via "
                  "side-channel block store (no broadcast)",
        "tokens_via": "block store (pyarrow doc-filtered reads)",
        "no_broadcast_in_plan": bool(no_broadcast),
        "store_mb": round(store_bytes / 1e6, 1),
        "n_tokens": int(n_actual),
        "profile_len": int(plen),
        "window": w,
        "diag_band": band,
        "n_chunks": n_chunks,
        "cpus": cpus,
        "wall_sec": round(wall, 1),
        "n_positions_out": int(out["n_pos"]),
        "n_defined": int(out["n_defined"]),
        "series_mb": round(series_bytes / 1e6, 1),
        "profile_mb": round(profile_bytes / 1e6, 1),
        "shuffle_write_mb": round(write_b / 1e6, 1),
        "shuffle_read_mb": round(read_b / 1e6, 1),
        "shuffle_write_over_series": round(write_b / series_bytes, 2),
        "shuffle_write_over_profile": round(write_b / profile_bytes, 2),
        "old_design_fan_shuffle_mb": round(n_chunks * series_bytes / 1e6, 1),
        "stages": fan_stages,
    }
    print(json.dumps(result, indent=2))
    with open("BENCH_LONG_SERIES.json", "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
