"""The benchmark's workloads. Each one generates its inputs from the seed,
runs one pipeline of ``tsmp_spark`` public calls per iteration, and checks
every iteration's output against references computed once per run.

A workload's ``iterate`` takes a :class:`Step`. Untraced, a step hands
DataFrames back untouched, so the pipeline runs as a user would write it.
Traced, a step caches each layer's output and forces it on its own under
a span, so each span's time is that layer's self time.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pandas as pd

import harness


@dataclass
class Outcome:
    """What one iteration produced, in the units of the end-to-end metrics,
    and the output check, which runs after the iteration's clock stops."""

    windows: int  # matrix-profile positions computed
    tier1: int
    tier2: int
    stored_bytes: int  # bytes the workload keeps for those points
    verify: Callable[[], list[str]]


class Step:
    """Per-iteration layer hooks; see the module docstring."""

    def __init__(self, spark, tracer: harness.Tracer | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.cached: list = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def layer(self, name: str, df, reuse: bool = False):
        """``reuse``: the caller reads ``df`` more than once, so even the
        untraced pipeline caches it, as a user would."""
        if self.tracer is None and not reuse:
            return df
        df = df.persist()
        self.cached.append(df)
        if self.tracer is None:
            return df
        sc = self.spark.sparkContext
        group = f"{name}#{self.tracer.iteration}"
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name) as sp:
                sp.counters.update(harness.force(df))
            if name.startswith("matrix_profile"):
                mx, med = harness.task_skew(self.spark, group)
                sp.counters.update({"task_max_ms": mx, "task_median_ms": med})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df

    def release(self) -> None:
        while self.cached:
            self.cached.pop().unpersist()


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            total += os.path.getsize(os.path.join(base, n))
    return total, files


def _arrow_collect(df) -> tuple[pd.DataFrame, int]:
    table = df.toArrow()
    return table.to_pandas(), table.nbytes


def _seq_sum(values: np.ndarray) -> float:
    """Left-to-right float sum, the order Spark's single-partition
    aggregate and the fused tier kernel accumulate in."""
    return float(np.cumsum(values)[-1]) if len(values) else 0.0


def fold_tier(doc_id: str, mp: np.ndarray, pi: np.ndarray, bucket: int) -> list[dict]:
    """Numpy tier-1 fold of one profile, as the fused kernel does it: per
    bucket with a finite value, min, first argmin's ``pi``, sequential
    mean, max and finite count."""
    rows = []
    for b0 in range(0, len(mp), bucket):
        seg = mp[b0 : b0 + bucket]
        fin = np.isfinite(seg)
        n = int(fin.sum())
        if n == 0:
            continue
        k = int(np.where(fin, seg, np.inf).argmin())
        vals = seg[fin]
        rows.append({
            "doc_id": doc_id, "bucket": b0 // bucket, "mp_min": float(seg[k]),
            "pi_argmin": int(pi[b0 + k]), "mp_avg": _seq_sum(vals) / n,
            "mp_max": float(vals.max()), "n": n,
        })
    return rows


def reroll(tier: pd.DataFrame, factor: int) -> pd.DataFrame:
    """Numpy mirror of ``rollup_rollup`` over one collected tier."""
    rows = []
    tier = tier.sort_values(["doc_id", "bucket"])
    for (doc, b2), g in tier.groupby([tier["doc_id"], tier["bucket"] // factor], sort=True):
        fin = g[g["mp_min"].notna()]
        if len(fin):
            k = fin["mp_min"].to_numpy().argmin()
            mp_min, pi_arg = float(fin["mp_min"].iloc[k]), int(fin["pi_argmin"].iloc[k])
        else:
            mp_min, pi_arg = np.nan, -1
        n = int(g["n"].sum())
        num = _seq_sum((g["mp_avg"] * g["n"]).dropna().to_numpy())
        rows.append({"doc_id": doc, "bucket": int(b2), "mp_min": mp_min, "pi_argmin": pi_arg,
                     "mp_avg": num / n if n else np.nan, "mp_max": float(g["mp_max"].max()), "n": n})
    return pd.DataFrame(rows)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame, approx: tuple[str, ...] = ()) -> list[str]:
    """Bit-for-bit comparison of two tables (NaN equal to NaN), except the
    ``approx`` columns, compared to 1e-12 relative: a tier-2 mean sums its
    tier-1 rows in Spark's hash-map order, not in bucket order."""
    keys = ["doc_id", "bucket"]
    cols = list(want.columns)
    got = got[cols].sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = []
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if c == "pi_argmin":  # NULL (no finite value in the bucket) reads as -1
            same = np.array_equal(pd.Series(a).fillna(-1).astype(np.int64), pd.Series(b).fillna(-1).astype(np.int64))
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            a = pd.to_numeric(pd.Series(a), errors="coerce").to_numpy(np.float64)
            b = pd.to_numeric(pd.Series(b), errors="coerce").to_numpy(np.float64)
            if c in approx:
                same = bool(np.allclose(a, b, rtol=1e-12, atol=0.0, equal_nan=True))
            else:
                same = np.array_equal(a, b, equal_nan=True)
        else:
            same = np.array_equal(a.astype(str) if a.dtype == object else a, b.astype(str) if b.dtype == object else b)
        if not same:
            bad.append(f"{name}: column {c} differs")
    return bad


def self_join_pairs(plen: int, minlag: int) -> int:
    m = max(plen - minlag, 0)
    return m * (m + 1) // 2


# ---------------------------------------------------------------------------


class ShortSeries:
    """Synthetic input_hint sequences -> fused matrix-profile tier 1 ->
    tier 2. No exchange above the kernel."""

    SIZES = {"full": dict(docs=24, length=4096), "tiny": dict(docs=4, length=512)}
    W, BUCKET, FACTOR, SAMPLE = 64, 64, 4, 3

    def __init__(self, seed: int, size: str) -> None:
        self.seed, self.cfg = seed, self.SIZES[size]
        from tsmp_spark.mpcore import exclusion_zone_size

        self.minlag = exclusion_zone_size(self.W, 0.5) + 1
        self.plen = self.cfg["length"] - self.W + 1

    def generate(self, spark) -> None:
        from tsmp_spark.fixtures import generate_sequences

        self.seqs = generate_sequences(
            spark, n_docs=self.cfg["docs"], seed=self.seed, length=self.cfg["length"]
        ).persist()
        self.seqs.count()

    def _profile(self, i: int):
        from tsmp_spark.fixtures import make_tokens
        from tsmp_spark.mpcore import mpx

        a = make_tokens(i, self.seed, self.cfg["length"]).astype(np.float64)
        return mpx(a, self.W, minlag=self.minlag)

    def references(self) -> None:
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(self.cfg["docs"], size=min(self.SAMPLE, self.cfg["docs"]), replace=False)
        rows = []
        for i in sorted(int(p) for p in picks):
            r = self._profile(i)
            mp = r.mp.copy()
            mp[~np.isfinite(mp)] = np.nan
            mp[r.pi < 0] = np.nan
            rows += fold_tier(f"doc_{i:08d}", mp, r.pi, self.BUCKET)
        self.ref_tier1 = pd.DataFrame(rows)

    def serial_ceiling(self) -> tuple[float, int]:
        t0 = time.perf_counter()
        for i in range(self.cfg["docs"]):
            self._profile(i)
        return time.perf_counter() - t0, self.cfg["docs"] * self_join_pairs(self.plen, self.minlag)

    def plan(self):
        from tsmp_spark.operators import matrix_profile_tier1, rollup_rollup

        return [rollup_rollup(matrix_profile_tier1(self.seqs, self.W, self.BUCKET), self.FACTOR)]

    def iterate(self, step: Step, out_dir: str) -> Outcome:
        from tsmp_spark.operators import matrix_profile_tier1, rollup_rollup

        t1 = step.layer("matrix_profile", matrix_profile_tier1(self.seqs, self.W, self.BUCKET), reuse=True)
        t2 = step.layer("rollup.rollup", rollup_rollup(t1, self.FACTOR))
        with step.span("collect"):
            p1, b1 = _arrow_collect(t1)
            p2, b2 = _arrow_collect(t2)

        def verify() -> list[str]:
            sample = p1[p1["doc_id"].isin(set(self.ref_tier1["doc_id"]))]
            return compare("tier1 sample", sample, self.ref_tier1) + compare(
                "tier2", p2, reroll(p1, self.FACTOR), approx=("mp_avg",))

        return Outcome(self.cfg["docs"] * self.plen, len(p1), len(p2), b1 + b2, verify)


# ---------------------------------------------------------------------------


def make_events(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    """Events table in the sf shape (event_id, ts, user_id, event_type,
    value) over 30 days, seeded."""
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    ets = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": t0 + ets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(["view", "click", "cart", "buy", "share"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
    })


class RetentionWrite:
    """The spark-submit rollup job composed from its public calls over a
    seeded events table: events -> nested series -> salted repartition ->
    checkpointed tier-0 profile per part -> tier-1/tier-2 parquet
    partitioned by bucket_range -> Gorilla-packed blobs, plus the hourly
    gap-filled events rollup landed next to them."""

    name = "retention_write"
    SIZES = {"full": dict(events=6000, users=100), "tiny": dict(events=1500, users=25)}
    W, TIER1, TIER2, SALT, RANGE, PARTS = 8, 8, 4, 8, 64, 1

    def __init__(self, seed: int, size: str, work: str) -> None:
        self.seed, self.cfg = seed, self.SIZES[size]
        self.events_dir = os.path.join(work, "events")
        from tsmp_spark.mpcore import exclusion_zone_size

        self.minlag = exclusion_zone_size(self.W, 0.5) + 1

    def generate(self, spark) -> None:
        """The events table as parquet, the layout the engine's queries read."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.pdf = make_events(self.seed, self.cfg["events"], self.cfg["users"])
        os.makedirs(self.events_dir, exist_ok=True)
        path = os.path.join(self.events_dir, "events.parquet")
        pq.write_table(pa.Table.from_pandas(self.pdf, preserve_index=False), path)
        self.events = spark.read.parquet(path).persist()
        self.events.count()

    def references(self) -> None:
        """Pandas recount of profile windows, tier rows and gap-filled hours."""
        n = self.pdf.groupby("user_id").size().to_numpy()
        plen = n[n >= self.W + self.minlag] - self.W + 1  # shorter series emit no profile
        t1 = -(-plen // self.TIER1)
        self.ref_counts = (int(plen.sum()), int(t1.sum()), int((-(-t1 // self.TIER2)).sum()))
        hours = (self.pdf["ts"].astype("int64") // 3_600_000_000).groupby(self.pdf["user_id"])
        self.ref_hourly = int((hours.max() - hours.min() + 1).sum())

    def serial_ceiling(self) -> tuple[float, int]:
        from tsmp_spark.mpcore import mpx

        t0 = time.perf_counter()
        pairs = 0
        for _, g in self.pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
            a = g["value"].to_numpy(np.float64)
            if len(a) >= self.W + self.minlag:
                mpx(a, self.W, minlag=self.minlag)
                pairs += self_join_pairs(len(a) - self.W + 1, self.minlag)
        return time.perf_counter() - t0, pairs

    def _salted(self, seqs):
        from tsmp_spark.operators import salted_repartition

        return salted_repartition(seqs, "doc_id", seqs.sparkSession.sparkContext.defaultParallelism, self.SALT)

    def plan(self):
        from tsmp_spark.operators import events_to_nested, matrix_profile, rollup_rollup, rollup_tier
        from tsmp_spark.queries import q_events_rollup_gapfill

        seqs = self._salted(events_to_nested(self.events))
        t1 = rollup_tier(matrix_profile(seqs, self.W, num_partitions=0), self.TIER1)
        return [rollup_rollup(t1, self.TIER2), q_events_rollup_gapfill(self.events.sparkSession, self.events_dir)]

    def iterate(self, step: Step, out_dir: str) -> Outcome:
        from pyspark.sql import functions as F

        from tsmp_spark.codecs import pack_rollup
        from tsmp_spark.jobs import CheckpointedJob
        from tsmp_spark.operators import events_to_nested, matrix_profile, rollup_rollup, rollup_tier
        from tsmp_spark.queries import q_events_rollup_gapfill

        spark = step.spark
        seqs = self._salted(step.layer("series.events_to_nested", events_to_nested(self.events)))
        job = CheckpointedJob(spark=spark, base_dir=f"{out_dir}/tier0", n_parts=self.PARTS)
        with step.span("checkpoint.run") as sp:
            profile = job.run(
                seqs,
                lambda part: step.layer("matrix_profile", matrix_profile(part, self.W, num_partitions=0)),
                lineage={"window": self.W, "stage": "tier0_matrix_profile"},
            )
            windows = profile.count()
        if sp is not None:
            sp.counters["parts_s"] = float(job.metrics().agg(F.sum("wall_sec")).first()[0])
            sp.counters["bytes"] = _dir_bytes(f"{out_dir}/tier0")[0]

        def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("bucket")
            blob = pack_rollup(pdf["bucket"].to_numpy(np.int64), pdf["mp_min"].to_numpy(np.float64))
            return pd.DataFrame({"doc_id": [key[0]], "blob": [blob], "n": [len(pdf)]})

        tiers, prev = [], profile
        for k, bucket in enumerate((self.TIER1, self.TIER2), start=1):
            lazy = rollup_tier(prev, bucket) if k == 1 else rollup_rollup(prev, bucket)
            tier = step.layer("rollup.tier" if k == 1 else "rollup.rollup", lazy, reuse=True)
            with step.span("sink.write") as sp:
                tier.withColumn("bucket_range", (F.col("bucket") / self.RANGE).cast("long")) \
                    .write.mode("overwrite").partitionBy("bucket_range").parquet(f"{out_dir}/tier{k}")
            if sp is not None:
                sp.counters["bytes"], sp.counters["files"] = _dir_bytes(f"{out_dir}/tier{k}")
            with step.span("codecs.pack") as sp:
                tier.groupBy("doc_id").applyInPandas(pack, "doc_id string, blob binary, n long") \
                    .write.mode("overwrite").parquet(f"{out_dir}/tier{k}_packed")
            if sp is not None:
                sp.counters["bytes"] = _dir_bytes(f"{out_dir}/tier{k}_packed")[0]
            tiers.append(tier)
            prev = tier
        n1, n2 = tiers[0].count(), tiers[1].count()
        if sp is not None:
            sp.counters["points"] = n1 + n2
        hourly = step.layer("rollup.gapfill", q_events_rollup_gapfill(spark, self.events_dir))
        with step.span("sink.write"):
            hourly.write.mode("overwrite").parquet(f"{out_dir}/hourly")
        stored = _dir_bytes(out_dir)[0] - _dir_bytes(f"{out_dir}/hourly")[0]

        def verify() -> list[str]:
            mem = [t.toPandas() for t in tiers]
            problems = []
            if (windows, n1, n2) != self.ref_counts:
                problems.append(f"windows/tier1/tier2 {(windows, n1, n2)}, pandas recount {self.ref_counts}")
            n_hourly = _read_parquet(f"{out_dir}/hourly").num_rows
            if n_hourly != self.ref_hourly:
                problems.append(f"gap-filled hours {n_hourly}, pandas recount {self.ref_hourly}")
            for k in (1, 2):
                problems += self._check_tier(k, mem[k - 1], out_dir)
            return problems + compare("tier2", mem[1], reroll(mem[0], self.TIER2), approx=("mp_avg",))

        return Outcome(windows, n1, n2, stored, verify)

    @staticmethod
    def _check_tier(k: int, mem: pd.DataFrame, out_dir: str) -> list[str]:
        """The tier parquet, read back by pyarrow rather than Spark, equals
        the in-memory tier; every blob unpacks to that tier's
        (bucket, mp_min) series."""
        from tsmp_spark.codecs import unpack_rollup

        disk = _read_parquet(f"{out_dir}/tier{k}").to_pandas()
        problems = compare(f"tier{k} read-back", disk, mem)
        packed = _read_parquet(f"{out_dir}/tier{k}_packed").to_pandas()
        by_doc = {d: g.sort_values("bucket") for d, g in mem.groupby("doc_id")}
        if set(packed["doc_id"]) != set(by_doc):
            problems.append(f"tier{k} packed docs differ from tier docs")
        for doc, blob in zip(packed["doc_id"], packed["blob"]):
            buckets, values = unpack_rollup(bytes(blob))
            g = by_doc.get(doc)
            if g is None or not (
                np.array_equal(buckets, g["bucket"].to_numpy(np.int64))
                and np.array_equal(values, g["mp_min"].to_numpy(np.float64), equal_nan=True)
            ):
                problems.append(f"tier{k} blob of {doc} does not round-trip")
                break
        return problems


def _read_parquet(path: str):
    """A Spark output directory as one Arrow table, hive partition columns
    left out (the writer derived them from the data)."""
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning=None).to_table()


# ---------------------------------------------------------------------------


class LongBand:
    """One random walk above ``long_series_threshold``, profiled on a band
    of diagonals by the diagonal-chunk path through the block store."""

    SIZES = {"full": dict(length=1 << 17, band=1000), "tiny": dict(length=70_000, band=200)}
    W, THRESHOLD = 256, 65536

    def __init__(self, seed: int, size: str, work: str) -> None:
        self.seed, self.cfg, self.work = seed, self.SIZES[size], work
        self.plen = self.cfg["length"] - self.W + 1
        self.minlag = self.plen - self.cfg["band"]
        # exclusion_zone_size(w, ez) == minlag - 1, as bench_long_series.py sets it
        self.ez = (self.minlag - 1) / self.W

    def tokens(self) -> np.ndarray:
        rng = np.random.default_rng(self.seed)
        return np.cumsum(rng.choice(np.array([-1, 1], dtype=np.int32), size=self.cfg["length"])).astype(np.int32)

    def generate(self, spark) -> None:
        pdf = pd.DataFrame({"doc_id": ["long-0"], "tokens": [self.tokens()]})
        self.series = spark.createDataFrame(pdf, "doc_id string, tokens array<int>").persist()
        self.series.count()

    def _serial(self):
        from tsmp_spark.mpcore import mpx

        return mpx(self.tokens().astype(np.float64), self.W, minlag=self.minlag)

    def references(self) -> None:
        r = self._serial()
        mp = r.mp.copy()
        mp[~np.isfinite(mp)] = np.nan
        mp[r.pi < 0] = np.nan
        self.ref_mp, self.ref_pi = mp, r.pi.astype(np.int32)

    def serial_ceiling(self) -> tuple[float, int]:
        t0 = time.perf_counter()
        self._serial()
        return time.perf_counter() - t0, self_join_pairs(self.plen, self.minlag)

    def _nested(self, store: str):
        from tsmp_spark.operators import matrix_profile_nested

        return matrix_profile_nested(
            self.series, self.W, exclusion_zone=self.ez, long_series_threshold=self.THRESHOLD,
            n_chunks=2 * self.series.sparkSession.sparkContext.defaultParallelism, series_store=store,
        )

    def plan(self):
        # the builder writes the block store while it plans
        return [self._nested(os.path.join(self.work, "plan_store"))]

    def iterate(self, step: Step, out_dir: str) -> Outcome:
        store = os.path.join(out_dir, "store")
        with step.span("matrix_profile.store_write") as sp:
            nested = self._nested(store)  # writes the block store eagerly
        if sp is not None:
            sp.counters["store_bytes"] = _dir_bytes(store)[0]
        nested = step.layer("matrix_profile.chunked", nested)
        with step.span("collect"):
            prof = nested.toPandas()

        def verify() -> list[str]:
            if len(prof) != 1:
                return [f"{len(prof)} long-series profile rows, expected 1"]
            mp = np.asarray(prof["mp"].iloc[0], dtype=np.float64)
            pi = np.asarray(prof["pi"].iloc[0], dtype=np.int32)
            problems = []
            bad_mp = np.nonzero(~((mp == self.ref_mp) | (np.isnan(mp) & np.isnan(self.ref_mp))))[0]
            if len(bad_mp):
                i = bad_mp[0]
                problems.append(f"chunked mp differs from serial mpx at {len(bad_mp)} positions, "
                                f"first {i}: {mp[i]!r} vs {self.ref_mp[i]!r}")
            bad_pi = np.nonzero(pi != self.ref_pi)[0]
            if len(bad_pi):
                i = bad_pi[0]
                problems.append(f"chunked pi differs from serial mpx at {len(bad_pi)} positions, "
                                f"first {i}: {pi[i]} vs {self.ref_pi[i]} (mp {mp[i]!r} vs {self.ref_mp[i]!r})")
            return problems

        return Outcome(self.plen, 0, 0, 0, verify)


class MpKernels:
    """Both matrix-profile kernel paths on synthetic input: input_hint
    sequences through the fused tier-1 kernel, and one long series on a
    diagonal band through the chunked path and the block store."""

    name = "mp_kernels"

    def __init__(self, seed: int, size: str, work: str) -> None:
        self.parts = (ShortSeries(seed, size), LongBand(seed, size, work))

    def generate(self, spark) -> None:
        for p in self.parts:
            p.generate(spark)

    def references(self) -> None:
        for p in self.parts:
            p.references()

    def serial_ceiling(self) -> tuple[float, int]:
        runs = [p.serial_ceiling() for p in self.parts]
        return sum(r[0] for r in runs), sum(r[1] for r in runs)

    def plan(self):
        return [df for p in self.parts for df in p.plan()]

    def iterate(self, step: Step, out_dir: str) -> Outcome:
        outs = [p.iterate(step, out_dir) for p in self.parts]
        return Outcome(
            sum(o.windows for o in outs), sum(o.tier1 for o in outs), sum(o.tier2 for o in outs),
            sum(o.stored_bytes for o in outs), lambda: [msg for o in outs for msg in o.verify()],
        )


WORKLOADS = {w.name: w for w in (MpKernels, RetentionWrite)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
