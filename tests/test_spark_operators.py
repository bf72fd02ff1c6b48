"""Spark operator layer: kernel-vs-local equality through the Arrow UDF
boundary, rollup correctness, partition invariance, skew salting."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from tsmp_spark.fixtures import generate_sequences, make_tokens
from tsmp_spark.mpcore import exclusion_zone_size, mpx, stomp
from tsmp_spark.operators import (
    gap_fill,
    matrix_profile,
    matrix_profile_join,
    retention_expire,
    rollup_rollup,
    rollup_tier,
    salted_repartition,
)
from tsmp_spark.operators.series import events_to_long, long_to_nested, nested_to_long

W = 16
EZ_N = exclusion_zone_size(W, 0.5)


@pytest.fixture(scope="module")
def seqs(spark):
    return generate_sequences(spark, n_docs=24, seed=7).cache()


def test_fixture_generation_deterministic(spark):
    a = generate_sequences(spark, n_docs=10, seed=7).orderBy("doc_id").collect()
    b = generate_sequences(spark, n_docs=10, seed=7, num_partitions=3).orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        assert ra.doc_id == rb.doc_id
        assert list(ra.tokens) == list(rb.tokens)
        assert ra.source == rb.source


def test_token_array_equality_through_pipeline(spark, seqs):
    """input_hint invariant: tokens survive the long↔nested round trip."""
    back = long_to_nested(nested_to_long(seqs))
    joined = (
        seqs.alias("a")
        .join(back.alias("b"), "doc_id")
        .select(
            F.expr("aggregate(zip_with(a.tokens, b.tokens, (x, y) -> CAST(x = y AS INT)), 0, (acc, v) -> acc + v)").alias("eq"),
            F.size("a.tokens").alias("n"),
        )
        .collect()
    )
    assert all(r.eq == r.n for r in joined)


def test_matrix_profile_matches_local_kernel(spark, seqs):
    prof = matrix_profile(seqs, W).toPandas()
    rows = seqs.select("doc_id", "tokens").collect()
    for row in rows:
        a = np.asarray(row.tokens, dtype=np.float64)
        if a.shape[0] < W + EZ_N + 1:
            assert len(prof[prof.doc_id == row.doc_id]) == 0
            continue
        local = mpx(a, W, minlag=EZ_N + 1)
        got = prof[prof.doc_id == row.doc_id].sort_values("pos")
        assert len(got) == local.mp.shape[0]
        np.testing.assert_allclose(got["mp"].to_numpy(), local.mp, atol=1e-9)
        np.testing.assert_array_equal(got["pi"].to_numpy(), local.pi)


def test_chunked_long_series_path(spark):
    """Diagonal-chunk fan-out (forced low threshold) equals the one-shot
    kernel — the distributed long-series strategy is exact."""
    docs = generate_sequences(spark, n_docs=4, seed=3, length=2000)
    prof = matrix_profile(docs, W, long_series_threshold=100, n_chunks=8).toPandas()
    for row in docs.collect():
        a = np.asarray(row.tokens, dtype=np.float64)
        local = mpx(a, W, minlag=EZ_N + 1)
        got = prof[prof.doc_id == row.doc_id].sort_values("pos")
        mp = got["mp"].to_numpy().copy()
        ref = local.mp.copy()
        ref[local.pi < 0] = np.nan
        np.testing.assert_allclose(mp, ref, atol=1e-9)


def test_chunked_series_store_path_exact_no_broadcast(spark, tmp_path):
    """The side-channel block-store fan-out (series_store set) equals the
    broadcast join-back BIT-exactly (mp AND pi), and its plan ships no
    token broadcast: at 10^8+-token scale the broadcast is the seam that
    breaks, so the store path must be byte-equivalent and broadcast-free."""
    docs = generate_sequences(spark, n_docs=4, seed=3, length=2000)
    store = str(tmp_path / "blocks")
    via_store = matrix_profile(
        docs, W, long_series_threshold=100, n_chunks=8, series_store=store
    )
    plan = via_store._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    got = via_store.toPandas()
    base = matrix_profile(
        docs, W, long_series_threshold=100, n_chunks=8
    ).toPandas()
    for doc in sorted(base.doc_id.unique()):
        a = base[base.doc_id == doc].sort_values("pos")
        b = got[got.doc_id == doc].sort_values("pos")
        np.testing.assert_array_equal(a["mp"].to_numpy(), b["mp"].to_numpy())
        np.testing.assert_array_equal(a["pi"].to_numpy(), b["pi"].to_numpy())


def test_series_store_reuse_keeps_each_call_exact(spark, tmp_path):
    """Two calls sharing one ``series_store`` path over different doc
    sets, executed second call first, each equal their own store-free
    result: every call writes its blocks to a fresh subdirectory, so a
    later call never overwrites blocks an earlier lazy result reads."""
    store = str(tmp_path / "blocks")
    docs = [generate_sequences(spark, n_docs=2, seed=s, length=1200) for s in (3, 4)]
    lazy = [
        matrix_profile(d, W, long_series_threshold=100, n_chunks=4, series_store=store)
        for d in docs
    ]
    got = [p.toPandas() for p in reversed(lazy)][::-1]
    for d, g in zip(docs, got):
        ref = matrix_profile(d, W, long_series_threshold=100, n_chunks=4).toPandas()
        ref, g = (x.sort_values(["doc_id", "pos"]).reset_index(drop=True) for x in (ref, g))
        assert list(g.doc_id) == list(ref.doc_id)
        np.testing.assert_array_equal(g["mp"].to_numpy(), ref["mp"].to_numpy())
        np.testing.assert_array_equal(g["pi"].to_numpy(), ref["pi"].to_numpy())


def test_tier1_fused_equals_relational_bit_exact(spark):
    """matrix_profile_tier1 (kernel-fused, map-only) == rollup_tier over
    the finite exploded profile, BIT-exact with NO rounding: the fused
    kernel folds each bucket's finite values sequentially in position
    order, the same accumulation order Spark's hash aggregate applies to
    the exploded rows — min/max/argmin/n are order-free. Includes a
    degenerate constant-prefix series so the NaN-sentinel drop rule
    (_finite_profile contract) is exercised on both paths."""
    from tsmp_spark.operators import rollup_tier
    from tsmp_spark.operators.matrix_profile import matrix_profile_tier1

    rng = np.random.default_rng(7)
    rows = []
    for i in range(6):
        n = int(rng.integers(80, 200))
        vals = np.cumsum(rng.choice([-1.0, 1.0], size=n))
        rows.append((f"d{i}", [float(v) for v in vals]))
    walk = np.cumsum(rng.choice([-1.0, 1.0], size=60))
    rows.append(("dconst", [1.0] * 60 + [1.0 + float(v) for v in walk]))
    seqs = spark.createDataFrame(rows, "doc_id string, tokens array<double>")

    prof = matrix_profile(seqs, W, long_series_threshold=None)
    finite = prof.filter(
        F.col("mp").isNotNull() & ~F.isnan("mp")
        & (F.col("mp") != float("inf")) & (F.col("pi") >= 0)
    )
    rel = rollup_tier(finite, 8).toPandas().sort_values(
        ["doc_id", "bucket"]).reset_index(drop=True)
    fused = matrix_profile_tier1(seqs, W, 8).toPandas().sort_values(
        ["doc_id", "bucket"]).reset_index(drop=True)
    assert len(rel) == len(fused) > 0
    # the degenerate prefix must have produced dropped positions
    assert fused[fused.doc_id == "dconst"]["n"].iloc[0] < 8
    for c in ("doc_id", "bucket", "pi_argmin", "n"):
        assert (rel[c].to_numpy() == fused[c].to_numpy()).all(), c
    for c in ("mp_min", "mp_avg", "mp_max"):
        a, b = rel[c].to_numpy(), fused[c].to_numpy()
        assert (a == b).all(), (c, a[a != b][:3], b[a != b][:3])


def test_partition_invariance(spark, seqs):
    """local[8]-style vs wide partitioning: identical results regardless of
    parallelism (north-rule evidence class)."""
    p1 = matrix_profile(seqs, W, num_partitions=2).orderBy("doc_id", "pos").toPandas()
    p2 = matrix_profile(seqs, W, num_partitions=16).orderBy("doc_id", "pos").toPandas()
    np.testing.assert_allclose(p1["mp"].to_numpy(), p2["mp"].to_numpy(), atol=0)
    np.testing.assert_array_equal(p1["pi"].to_numpy(), p2["pi"].to_numpy())


def test_ab_join_operator(spark):
    a = make_tokens(1, seed=9, length=400).astype(np.float64)
    b = make_tokens(2, seed=9, length=300).astype(np.float64)
    pairs = spark.createDataFrame(
        [("a", a.tolist(), "b", b.tolist())],
        "doc_id_a string, tokens_a array<double>, doc_id_b string, tokens_b array<double>",
    )
    out = matrix_profile_join(pairs, W).toPandas()
    from tsmp_spark.mpcore import mpx_ab

    local = mpx_ab(a, b, W)
    got_a = out[out.side == "a"].sort_values("pos")["mp"].to_numpy()
    got_b = out[out.side == "b"].sort_values("pos")["mp"].to_numpy()
    np.testing.assert_allclose(got_a, local.mp, atol=1e-9)
    np.testing.assert_allclose(got_b, local.mpb, atol=1e-9)


def test_rollup_tier_and_rerollup(spark, seqs):
    prof = matrix_profile(seqs, W)
    t1 = rollup_tier(prof, 8)
    t2 = rollup_rollup(t1, 4)
    pdf = prof.toPandas()
    t1p = t1.toPandas()
    one = pdf[pdf.doc_id == pdf.doc_id.iloc[0]]
    bucket0 = one[one.pos < 8]
    got = t1p[(t1p.doc_id == one.doc_id.iloc[0]) & (t1p.bucket == 0)].iloc[0]
    assert got["mp_min"] == pytest.approx(bucket0["mp"].min())
    assert got["n"] == len(bucket0)
    # tier2 min-of-min == direct min over 32 positions
    t2p = t2.toPandas()
    got2 = t2p[(t2p.doc_id == one.doc_id.iloc[0]) & (t2p.bucket == 0)].iloc[0]
    assert got2["mp_min"] == pytest.approx(one[one.pos < 32]["mp"].min())


def test_gap_fill_locf(spark):
    t = spark.createDataFrame(
        [("d1", 0, 1.0, 5), ("d1", 3, 4.0, 5)],
        "doc_id string, bucket long, mp_avg double, n long",
    )
    filled = gap_fill(t, fill_cols=("mp_avg",), locf=True).orderBy("bucket").collect()
    assert [r.bucket for r in filled] == [0, 1, 2, 3]
    assert [r.mp_avg for r in filled] == [1.0, 1.0, 1.0, 4.0]
    assert [r.gap_filled for r in filled] == [False, True, True, False]


def test_retention_expire(spark):
    t = spark.createDataFrame(
        [("d1", b, float(b), 1) for b in range(10)],
        "doc_id string, bucket long, mp_min double, n long",
    )
    kept = retention_expire(t, horizon_buckets=3).collect()
    assert sorted(r.bucket for r in kept) == [7, 8, 9]


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") < 900, "hot").otherwise("cold").alias("source"),
        F.col("id"),
    )
    out = salted_repartition(df, "source", num_partitions=8, salt_buckets=8)
    sizes = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # the hot key must not land in a single partition
    assert max(r["count"] for r in sizes) < 900


def test_events_series_roundtrip(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    long_df = events_to_long(ev)
    nested = long_to_nested(long_df)
    n_series = nested.count()
    assert n_series == ev.select("user_id").distinct().count()
    total = nested.agg(F.sum("n_tok")).collect()[0][0]
    assert total == ev.count()


def test_masked_profile_is_null_externally(spark):
    """The kernel's NaN (masked window / no neighbor) must surface as SQL
    NULL — not NaN — so relational aggregates (count/min/avg, DuckDB
    oracles) treat masked positions correctly. An all-constant series
    masks every window (zero variance everywhere -> pi = -1)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tsmp_spark.operators import matrix_profile, rollup_tier

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["flat"], "tokens": [[5.0] * 50]})
    )
    prof = matrix_profile(df, 8, long_series_threshold=None)
    assert prof.filter(F.isnan("mp")).count() == 0  # never NaN externally
    n_rows = prof.count()
    assert n_rows == 43 and prof.filter(F.col("mp").isNull()).count() == n_rows
    t1 = rollup_tier(prof, 8)
    assert t1.filter(F.col("n") != 0).count() == 0  # masked rows don't count


def test_rollup_tier_nested_equals_exploded(spark):
    """Shuffle-free in-array tier-1 == explode->groupBy tier-1, including
    masked (NULL) windows and ragged tail buckets."""
    import pandas as pd

    from tsmp_spark.operators import matrix_profile, rollup_tier, rollup_tier_nested
    from tsmp_spark.operators.matrix_profile import matrix_profile_nested
    from tsmp_spark.operators.series import events_to_nested

    seq = events_to_nested(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    flat = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["flat"], "tokens": [[5.0] * 50]})
    ).selectExpr("doc_id", "tokens", "size(tokens) n_tok", "'t' source")
    seq = seq.unionByName(flat)
    a = rollup_tier(matrix_profile(seq, 8, long_series_threshold=None), 8)
    b = rollup_tier_nested(
        matrix_profile_nested(seq, 8, long_series_threshold=None), 8
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_rollup_tier_nested_plan_shuffle_free(spark):
    """The nested tier adds NO exchange beyond the kernel's own."""
    from tsmp_spark.operators import rollup_tier_nested
    from tsmp_spark.operators.matrix_profile import matrix_profile_nested
    from tsmp_spark.operators.series import events_to_nested

    seq = events_to_nested(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    nested = matrix_profile_nested(seq, 8, long_series_threshold=None)
    base = nested._jdf.queryExecution().executedPlan().toString().count("Exchange")
    tier = rollup_tier_nested(nested, 8)
    t = tier._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert t == base


def test_cosine_carried_norms_bit_identical(spark):
    """The carried-norm cosine (norms projected below the join, round-3
    perf fix) must be BIT-identical to the inline dot/(|a|·|b|) form —
    the DuckDB oracles hash r-rounded values, so even 1-ulp drift is a
    regression. Includes a zero vector (guard path → dropped row)."""
    from tsmp_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    rows.append((40, [0.0] * 8))  # zero-norm: no direction, never ranked
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, emb, k=3).collect()
    }
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v in rows}

    def inline_cos(a, b):
        # the pre-fix expression order: aggregate-sum dot, sqrt-of-
        # aggregate norms, dot/(na*nb) — replayed in float64 like codegen
        dot = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            dot += x * y

        def norm(v):  # sequential fold, exactly like F.aggregate
            s = 0.0
            for x in v:
                s += x * x
            return np.sqrt(s)

        return dot / (norm(vecs[a]) * norm(vecs[b]))

    assert got, "no pairs returned"
    assert all(q != 40 and n != 40 for q, n in got)  # zero vector dropped
    for (q, n), c in got.items():
        assert c == inline_cos(q, n)  # exact, not approx


def test_ivf_recall_vs_exact(spark):
    """IVF multi-probe candidates recover most exact top-1 neighbors."""
    from tsmp_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, emb, k=1).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, k=5, n_clusters=8, nprobe=4).collect()
    }
    hit = sum(1 for pair in exact if pair in approx)
    # fixture embeddings are iid-uniform (no cluster structure — the
    # hardest regime for IVF); measured 0.75 at nprobe=4, floor at 0.6
    assert hit / max(len(exact), 1) >= 0.6


def test_kmeans_codebook_and_recall(spark):
    """Trained quantizer: codebook is unit-norm, rounded, deterministic;
    k-means IVF recall at nprobe=4 holds the same floor as the sin grid."""
    import math

    from tsmp_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = kmeans_centroids(emb, n_clusters=8, n_iter=2)
    assert [c for c, _ in cb] == sorted(c for c, _ in cb)
    for _, vec in cb:
        nrm = math.sqrt(sum(x * x for x in vec))
        assert abs(nrm - 1.0) < 1e-3  # unit-norm up to the 1e-6 rounding
        assert all(round(x, 6) == x for x in vec)  # rounded codebook
    cb2 = kmeans_centroids(emb, n_clusters=8, n_iter=2)
    assert cb == cb2  # bit-identical across runs

    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, emb, k=1).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, k=5, n_clusters=8, nprobe=4, kmeans_iters=2).collect()
    }
    hit = sum(1 for pair in exact if pair in approx)
    assert hit / max(len(exact), 1) >= 0.6


def test_semantic_dedup_invariants(spark):
    """SemDeDup contract: exact duplicate vectors land in one cluster and
    the higher id is marked dup_of the lower; zero-norm vectors are never
    duplicates (NULL cosine guard); exemplars (lowest id per ε-ball) are
    kept; every input row appears exactly once; empty input → empty out."""
    import numpy as np

    from tsmp_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    rows.append((100, list(rows[3][1])))  # exact copy of vec 3
    rows.append((101, [0.0] * 8))  # zero-norm: no direction
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = semantic_dedup(emb, threshold=0.95, n_clusters=4, kmeans_iters=1)
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == len(rows)  # one verdict per input vector
    assert got[100].is_dup and got[100].dup_of == 3  # copy collapses down
    assert not got[3].is_dup  # the exemplar (lowest id) is kept
    assert not got[101].is_dup and got[101].dup_of is None  # zero-norm

    empty = emb.limit(0)
    assert semantic_dedup(empty, n_clusters=4, kmeans_iters=1).count() == 0


# --- product quantization ----------------------------------------------------


def test_pq_encode_invariants(spark):
    from tsmp_spark.operators.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    cb = pq_codebooks(emb, m=4, k=8, n_iter=1)
    assert cb and all(len(c) == 16 for _, _, c in cb)  # 64-d / 4 subspaces
    enc = pq_encode(emb, cb).toPandas()
    assert len(enc) == 80 * 4  # one code per (vector, subspace)
    assert set(enc["sub"]) == {0, 1, 2, 3}
    assert enc["code"].between(0, 7).all()
    # identical vectors get identical codes
    dup = emb.union(emb.limit(1))
    enc2 = pq_encode(dup, cb)
    first = enc2.groupBy("vec_id", "sub", "code").count().toPandas()
    assert (first[first["count"] > 1]["count"] == 2).all()


def test_pq_codebooks_deterministic_and_empty(spark):
    from tsmp_spark.operators.similarity import pq_codebooks, pq_adc_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    a = pq_codebooks(emb, m=2, k=4, n_iter=1)
    b = pq_codebooks(emb.repartition(7), m=2, k=4, n_iter=1)
    assert a == b  # partitioning-independent (r9 rounding convention)
    empty = emb.limit(0)
    assert pq_codebooks(empty, m=2, k=4) == []
    assert pq_adc_topk(empty, F.lit(True)).count() == 0


def test_pq_adc_recall_vs_exact_l2(spark):
    """ADC is an approximation of ||q-x||^2 — on the stock embeddings the
    PQ top-5 should overlap the exact L2 top-5 well above chance."""
    import numpy as np
    from tsmp_spark.operators.similarity import pq_adc_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = pq_adc_topk(emb, F.col("vec_id") % 50 == 0, k_neighbors=5).toPandas()
    rows = emb.select("vec_id", "embedding").collect()
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    hits = total = 0
    for qid in sorted(got["query_id"].unique()):
        d = {
            nid: float(((V[qid] - x) ** 2).sum())
            for nid, x in V.items()
            if nid != qid
        }
        exact = {n for n, _ in sorted(d.items(), key=lambda t: (t[1], t[0]))[:5]}
        approx = set(got[got["query_id"] == qid]["neighbor_id"])
        hits += len(exact & approx)
        total += 5
    # iid gaussians are PQ's WORST case (no cluster structure to quantize:
    # 16 bits/vector against 64 iid dims) — chance recall is 5/499 ~ 0.01,
    # measured 0.08-0.18 across m/k configs. Assert well above chance.
    assert hits / total >= 0.05


def test_simhash_neardup_matches_bruteforce(spark):
    """Pigeonhole completeness: the banded join must find EVERY pair
    within the Hamming ball (4 disjoint 16-bit bands prove d <= 3)."""
    from tsmp_spark.operators.dedup import simhash64, simhash_neardup_pairs
    from tsmp_spark.operators.cache import release_caches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    sigs = simhash64(docs).collect()
    release_caches()
    exact = {}
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            h = bin((a.simhash_lo ^ b.simhash_lo)).count("1") + bin(
                (a.simhash_hi ^ b.simhash_hi)
            ).count("1")
            if h <= 3:
                key = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
                exact[key] = h
    assert got == exact and len(exact) > 0


def test_simhash_neardup_band_cap_is_subset(spark):
    from tsmp_spark.operators.dedup import simhash_neardup_pairs
    from tsmp_spark.operators.cache import release_caches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {(r.doc_a, r.doc_b) for r in simhash_neardup_pairs(docs).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(docs, max_band_freq=20).collect()
    }
    release_caches()
    assert capped <= full

    import pytest

    with pytest.raises(ValueError):
        simhash_neardup_pairs(docs, max_hamming=4)


def test_ivf_pq_recall_on_structured_data_and_empty(spark):
    """IVFADC recall on data shaped like real embeddings (clusters with
    low-rank within-cluster variation — PQ needs low intrinsic dimension
    to carry resolution; on iid gaussians ADC degenerates to exact ties
    within a cell and recall is chance-within-cell, measured in the PQ
    prototype). The L2 coarse quantizer must shrink residuals (the
    spherical/normalized codebook left ||res|| ~ ||x|| and recall at 0)."""
    import numpy as np
    from tsmp_spark.operators.similarity import ivf_pq_topk
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 16)) * 3
    dirs = rng.normal(size=(8, 16))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    rows = [
        (
            i,
            (
                centers[i % 8]
                + dirs[i % 8] * rng.normal() * 1.5
                + rng.normal(size=16) * 0.02
            ).tolist(),
        )
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivf_pq_topk(emb, F.col("vec_id") % 40 == 0, k_neighbors=5).toPandas()
    assert set(got.groupby("query_id").size()) == {5}
    V = {i: np.asarray(v) for i, v in rows}
    hits = total = 0
    for qid in sorted(got["query_id"].unique()):
        d = {n: float(((V[qid] - x) ** 2).sum()) for n, x in V.items() if n != qid}
        exact = {n for n, _ in sorted(d.items(), key=lambda t: (t[1], t[0]))[:5]}
        hits += len(exact & set(got[got["query_id"] == qid]["neighbor_id"]))
        total += 5
    assert hits / total >= 0.5  # numpy prototype: 0.68
    assert ivf_pq_topk(emb.limit(0), F.lit(True)).count() == 0


def test_asof_join_semantics(spark):
    from tsmp_spark.operators.rollup import asof_join

    left = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (2, 5), (2, 9)], "user_id long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 20, 200.0), (1, 25, 250.0), (2, 9, 300.0)],
        "user_id long, ts long, value double",
    )
    back = {
        (r.user_id, r.ts): (r.ts_right, r.value_right)
        for r in asof_join(left, right).collect()
    }
    assert back[(1, 5)] == (None, None)  # nothing at-or-before
    assert back[(1, 10)] == (8, 100.0)
    assert back[(1, 25)] == (25, 250.0)  # equal ts matches
    assert back[(2, 5)] == (None, None)
    assert back[(2, 9)] == (9, 300.0)
    fwd = {
        (r.user_id, r.ts): (r.ts_right, r.value_right)
        for r in asof_join(left, right, direction="forward").collect()
    }
    assert fwd[(1, 5)] == (8, 100.0)
    assert fwd[(1, 25)] == (25, 250.0)
    assert fwd[(2, 5)] == (9, 300.0)
    tol = {
        (r.user_id, r.ts): (r.ts_right, r.value_right)
        for r in asof_join(left, right, tolerance=3).collect()
    }
    assert tol[(1, 10)] == (8, 100.0)  # gap 2 <= 3
    assert tol[(1, 25)] == (25, 250.0)
    assert (1, 5) in tol and tol[(1, 5)] == (None, None)

    import pytest

    with pytest.raises(ValueError):
        asof_join(left, right, direction="nearest")


def test_m4_downsample_shape_points(spark):
    from tsmp_spark.operators.rollup import m4_downsample

    rows = [("s", p, v) for p, v in [(0, 5.0), (1, 1.0), (2, 9.0), (3, 1.0), (9, 7.0), (10, 2.0)]]
    df = spark.createDataFrame(rows, "doc_id string, pos long, value double")
    out = {r.bucket: r for r in m4_downsample(df, 8).collect()}
    b0 = out[0]
    assert (b0.first_pos, b0.first_value) == (0, 5.0)
    assert (b0.last_pos, b0.last_value) == (3, 1.0)
    # equal minima: the EARLIER position wins (struct min ties)
    assert (b0.min_pos, b0.min_value) == (1, 1.0)
    assert (b0.max_pos, b0.max_value) == (2, 9.0)
    assert b0.n == 4
    b1 = out[1]  # pos 9 (7.0), pos 10 (2.0)
    assert b1.n == 2 and b1.first_pos == b1.max_pos == 9 and b1.last_pos == 10


def test_rollup_percentiles_exact(spark):
    from tsmp_spark.operators.rollup import rollup_percentiles

    df = spark.createDataFrame(
        [("s", p, float(v)) for p, v in enumerate([1, 2, 4, 8, 9])],
        "doc_id string, pos long, value double",
    )
    r = rollup_percentiles(df, 100).collect()[0]
    assert r.p50 == 4.0 and abs(r.p95 - 8.8) < 1e-12 and r.n == 5


def test_sessionize_gap_semantics(spark):
    from tsmp_spark.operators.rollup import sessionize

    rows = [(1, t) for t in [0, 50, 120, 500, 510, 2000]] + [(2, 7)]
    df = spark.createDataFrame(rows, "user_id long, sec long")
    out = {
        (r.user_id, r.session_idx): r
        for r in sessionize(df, 100, key_col="user_id", ts_col="sec").collect()
    }
    # gap > 100 splits: [0,50,120] (gaps 50,70), [500,510], [2000]
    assert out[(1, 0)].session_start == 0 and out[(1, 0)].session_end == 120
    assert out[(1, 0)].n_events == 3 and out[(1, 0)].duration == 120
    assert out[(1, 1)].session_start == 500 and out[(1, 1)].n_events == 2
    assert out[(1, 2)].n_events == 1 and out[(1, 2)].duration == 0
    assert out[(2, 0)].n_events == 1
    # exact-gap boundary: gap == threshold does NOT split
    two = sessionize(
        spark.createDataFrame([(1, 0), (1, 100)], "user_id long, sec long"),
        100, key_col="user_id", ts_col="sec",
    ).collect()
    assert len(two) == 1 and two[0].n_events == 2


def test_cohort_retention_matrix(spark):
    from tsmp_spark.operators.rollup import cohort_retention

    # users 1,2 start in bucket 0; user 3 starts in bucket 1;
    # user 2 returns in bucket 2, user 1 never returns
    rows = [(1, 5), (2, 8), (2, 15), (3, 110), (2, 205), (3, 207)]
    df = spark.createDataFrame(rows, "user_id long, sec long")
    out = {
        (r.cohort, r.age): r
        for r in cohort_retention(df, 100, key_col="user_id", ts_col="sec").collect()
    }
    assert out[(0, 0)].active_users == 2 and out[(0, 0)].cohort_size == 2
    assert out[(0, 2)].active_users == 1 and out[(0, 2)].retention == 0.5
    assert (0, 1) not in out  # nobody from cohort 0 active in bucket 1
    assert out[(1, 0)].cohort_size == 1 and out[(1, 1)].active_users == 1


def test_counter_rate_reset_semantics(spark):
    from tsmp_spark.operators.rollup import counter_rate

    # counter: 0 -> 10 -> 25 -> RESET to 3 -> 9 (increase 10+15+3+6 = 34)
    rows = [(1, t, v) for t, v in [(0, 0.0), (10, 10.0), (20, 25.0), (30, 3.0), (40, 9.0)]]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = counter_rate(df, 100, key_col="user_id", ts_col="sec").collect()
    assert len(out) == 1
    r = out[0]
    assert r.increase == 34.0 and r.n_samples == 5
    assert r.rate == 34.0 / 100


def test_time_weighted_avg_locf_clipped(spark):
    from tsmp_spark.operators.rollup import time_weighted_avg

    # bucket 100: v=2 holds [0,60), v=10 holds [60,100) -> twa = (2*60+10*40)/100
    rows = [(1, 0, 2.0), (1, 60, 10.0), (1, 130, 4.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = {r.bucket: r for r in time_weighted_avg(df, 100, key_col="user_id", ts_col="sec").collect()}
    assert out[0].twa == (2.0 * 60 + 10.0 * 40) / 100 and out[0].covered == 100.0
    assert out[1].twa == 4.0 and out[1].covered == 70.0  # [130, 200)
    # zero-duration-only bucket -> NULL twa
    z = time_weighted_avg(
        spark.createDataFrame([(1, 100, 5.0), (1, 100, 5.0)], "user_id long, sec long, value double"),
        100, key_col="user_id", ts_col="sec",
    ).collect()
    assert all(r.twa is None or r.covered > 0 for r in z)


def test_acf_matches_numpy(spark):
    import numpy as np
    from tsmp_spark.operators.rollup import acf

    rng = np.random.default_rng(3)
    v = rng.normal(size=60).cumsum()  # a walk: strong positive acf_1
    rows = [(1, t, float(x)) for t, x in enumerate(v)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    r = acf(df, lags=(1, 2), key_col="user_id", ts_col="sec").collect()[0]
    for lag, got in [(1, r.acf_1), (2, r.acf_2)]:
        a, b = v[:-lag], v[lag:]
        exp = float(np.corrcoef(a, b)[0, 1])
        assert abs(got - exp) < 1e-6
    assert r.acf_1 > 0.8 and r.n == 60


def test_ewma_matches_pandas(spark):
    import numpy as np
    import pandas as pd
    from tsmp_spark.operators.rollup import ewma_smooth

    rng = np.random.default_rng(7)
    v = rng.normal(size=50)
    rows = [(1, t, float(x)) for t, x in enumerate(v)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    got = (
        ewma_smooth(df, alpha=0.3, key_col="user_id", ts_col="sec")
        .orderBy("sec")
        .toPandas()["ewma"]
        .to_numpy()
    )
    exp = pd.Series(v).ewm(alpha=0.3, adjust=False).mean().to_numpy()
    np.testing.assert_allclose(got, np.round(exp, 6), atol=1e-9)


def test_periodogram_finds_planted_period(spark):
    import numpy as np
    from tsmp_spark.operators.rollup import periodogram

    n = 128
    t = np.arange(n)
    v = np.sin(2 * np.pi * 4 * t / n)  # pure harmonic k=4
    rows = [(1, int(i), float(x)) for i, x in zip(t, v)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    got = {r.k: r.power for r in periodogram(df, k_max=8, key_col="user_id", ts_col="sec").collect()}
    assert max(got, key=got.get) == 4
    assert got[4] == 0.25  # |n/2|^2 / n^2 for a unit sine
    assert all(abs(p) < 1e-9 for k, p in got.items() if k != 4)
    # short series: nothing below 2 points, k truncated at n//2
    one = periodogram(
        spark.createDataFrame([(1, 0, 1.0)], "user_id long, sec long, value double"),
        key_col="user_id", ts_col="sec",
    )
    assert one.count() == 0


def test_rollup_trend_exact_line(spark):
    from tsmp_spark.operators.rollup import rollup_trend

    # y = 3 + 0.5 x within bucket 0 (x = pos), constant in bucket 1
    rows = [(1, p, 3.0 + 0.5 * p) for p in range(6)] + [(1, 10, 7.0), (1, 12, 7.0), (2, 0, 1.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = {(r.user_id, r.bucket): r for r in rollup_trend(df, 8, key_col="user_id", pos_col="sec").collect()}
    assert out[(1, 0)].slope == 0.5 and out[(1, 0)].intercept == 3.0
    assert out[(1, 1)].slope == 0.0 and out[(1, 1)].intercept == 7.0
    assert out[(2, 0)].slope is None and out[(2, 0)].n == 1  # single point


def test_rollup_histogram_bins_and_merge(spark):
    from tsmp_spark.operators.rollup import rollup_histogram
    import pyspark.sql.functions as _F

    rows = [(1, 0, -9.0), (1, 1, 0.0), (1, 2, 0.62), (1, 3, 9.0), (1, 10, 0.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = {(r.bucket, r.bin): r.cnt for r in rollup_histogram(
        df, 8, lo=-5.0, hi=5.0, n_bins=16, key_col="user_id", pos_col="sec").collect()}
    assert out[(0, 0)] == 1          # -9 clamps into edge bin
    assert out[(0, 8)] == 2          # 0.0 and 0.62 share bin 8 ([0, .625))
    assert out[(0, 15)] == 1         # 9 clamps high
    assert out[(1, 8)] == 1
    # mergeable: tier-2 = sum of counts per bin
    t2 = (rollup_histogram(df, 8, lo=-5.0, hi=5.0, n_bins=16, key_col="user_id", pos_col="sec")
          .groupBy("user_id", (_F.floor(_F.col("bucket") / 4)).alias("b2"), "bin")
          .agg(_F.sum("cnt").alias("cnt")))
    assert {(r.b2, r.bin): r.cnt for r in t2.collect()}[(0, 8)] == 3


def test_seasonal_decompose_recovers_planted_seasonality(spark):
    import numpy as np
    from tsmp_spark.operators.rollup import seasonal_decompose

    # 10 full days of hourly points: trend 0.1/h + daily sine, no noise.
    # The classical MA filter removes the linear trend exactly, so the
    # per-phase seasonal index must recover the sine (up to edge loss).
    hours = np.arange(240)
    season = 5.0 * np.sin(2 * np.pi * (hours % 24) / 24)
    v = 0.1 * hours + season
    rows = [("a", int(h) * 3600, float(x)) for h, x in zip(hours, v)]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    out = seasonal_decompose(df, period=24, bucket_sec=3600,
                             key_col="event_type", ts_col="sec")
    got = {r.phase: (r.seasonal, r.nb, r.d48_sum) for r in out.collect()}
    assert len(got) == 24
    # center the emitted (uncentered) index, then compare to the sine
    m = sum(s for s, _, _ in got.values()) / 24
    for ph in range(24):
        s, nb, d48 = got[ph]
        assert nb == 9  # 240 buckets, 25-wide MA -> 216 detrended, 9/phase
        assert abs((s - m) - 5.0 * np.sin(2 * np.pi * ph / 24)) < 1e-6
        # the exact-integer contract: float index derives from the bigint
        assert abs(s - d48 / nb / 48 / 1e9) < 1e-12
    # series shorter than the filter: every phase has nb=0, NULL sums
    short = seasonal_decompose(
        spark.createDataFrame([("a", h * 3600, 1.0) for h in range(10)],
                              "event_type string, sec long, value double"),
        period=24, bucket_sec=3600, key_col="event_type", ts_col="sec",
    ).collect()
    assert short and all(r.nb == 0 and r.d48_sum is None for r in short)


def test_ccf_planted_lag(spark):
    import numpy as np
    from tsmp_spark.operators.rollup import ccf

    # b is a copy of a shifted 3 buckets later: ccf peaks at lag 3 with r=1
    rng = np.random.default_rng(11)
    a = rng.normal(size=80).cumsum()
    rows = [("click", int(t) * 3600, float(x)) for t, x in enumerate(a)]
    rows += [("error", int(t + 3) * 3600, float(x)) for t, x in enumerate(a)]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    out = {r.lag: r for r in ccf(df, "click", "error",
                                 lags=(0, 1, 2, 3, 4), ts_col="sec").collect()}
    assert out[3].ccf == 1.0 and out[3].n_pairs == 80
    assert all(out[k].ccf < 0.999 for k in (0, 1, 2, 4))
    # constant series: zero variance -> NULL, not a crash (ANSI-safe form)
    const = [("click", t * 3600, 1.0) for t in range(30)]
    const += [("error", t * 3600, 2.0) for t in range(30)]
    cdf = spark.createDataFrame(const, "event_type string, sec long, value double")
    got = ccf(cdf, "click", "error", lags=(0, 1), ts_col="sec").collect()
    assert all(r.ccf is None and r.n_pairs > 0 for r in got)
    # missing type: every lag row exists with n_pairs=0
    empty = ccf(cdf.where("event_type = 'click'"), "click", "error",
                lags=(0, 1), ts_col="sec").collect()
    assert sorted(r.lag for r in empty) == [0, 1]
    assert all(r.ccf is None and r.n_pairs == 0 for r in empty)


def test_lttb_downsample_keeps_extremes(spark):
    import numpy as np
    from tsmp_spark.operators.rollup import lttb_downsample

    # smooth walk with one huge planted spike: LTTB must keep the spike,
    # the first point, and the last point
    rng = np.random.default_rng(5)
    v = rng.normal(size=400).cumsum()
    v[237] += 500.0
    rows = [(1, t * 60, float(x)) for t, x in enumerate(v)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = lttb_downsample(df, k=20, key_col="user_id", ts_col="sec").collect()
    assert len(out) == 20
    secs = sorted(r.sec for r in out)
    assert secs[0] == 0 and secs[-1] == 399 * 60
    assert 237 * 60 in secs  # the spike survives downsampling
    assert [r.rank for r in sorted(out, key=lambda r: r.sec)] == list(range(20))
    # n <= k passes through unchanged
    small = lttb_downsample(
        spark.createDataFrame(rows[:7], "user_id long, sec long, value double"),
        k=20, key_col="user_id", ts_col="sec",
    ).collect()
    assert len(small) == 7 and sorted(r.rank for r in small) == list(range(7))
    # constant series: all areas exactly 0 -> first point of each bucket
    const = lttb_downsample(
        spark.createDataFrame([(1, t, 5.0) for t in range(100)],
                              "user_id long, sec long, value double"),
        k=10, key_col="user_id", ts_col="sec",
    ).collect()
    assert len(const) == 10 and all(r.value == 5.0 for r in const)


def test_sax_symbols_known_series(spark):
    import numpy as np
    from tsmp_spark.operators.series import sax_symbols

    # a ramp: z-normalized PAA means rise monotonically through the
    # breakpoints, so symbols must be a sorted 0..3 staircase
    n, w = 64, 8
    rows = [(1, t, float(t)) for t in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, pos long, value double")
    out = sorted(sax_symbols(df, w=w, a=4, key_col="doc_id").collect(),
                 key=lambda r: r.seg)
    assert [r.seg for r in out] == list(range(w))
    syms = [r.symbol for r in out]
    assert syms == sorted(syms) and syms[0] == 0 and syms[-1] == 3
    assert all(r.npts == n // w for r in out)
    # constant + near-constant-at-offset series: the engine-wide lowvar
    # rule -> NULL symbols (the recentered sd keeps the band exact)
    rng = np.random.default_rng(2)
    rows2 = [(2, t, 42.5) for t in range(32)]
    rows2 += [(3, t, float(42.5 + 1e-9 * rng.standard_normal())) for t in range(32)]
    df2 = spark.createDataFrame(rows2, "doc_id long, pos long, value double")
    got = sax_symbols(df2, w=4, a=4, key_col="doc_id").collect()
    assert got and all(r.symbol is None for r in got)


def test_gap_fill_interpolate_linear(spark):
    from tsmp_spark.operators.rollup import gap_fill

    # observed buckets 0 (v=1.0) and 4 (v=9.0); gaps 1-3 must lerp
    rows = [("a", 0, 1.0, 1), ("a", 4, 9.0, 1), ("b", 2, 5.0, 1)]
    t = spark.createDataFrame(rows, "doc_id string, bucket long, v double, n long")
    out = {(r.doc_id, r.bucket): r for r in
           gap_fill(t, fill_cols=("v",), interpolate=True).collect()}
    assert out[("a", 1)].v == 3.0 and out[("a", 2)].v == 5.0 and out[("a", 3)].v == 7.0
    assert all(out[("a", b)].gap_filled for b in (1, 2, 3))
    assert not out[("a", 0)].gap_filled and out[("a", 0)].v == 1.0
    assert out[("b", 2)].v == 5.0  # single bucket: nothing to fill
    # locf+interpolate is a contract error
    import pytest as _pytest
    with _pytest.raises(ValueError):
        gap_fill(t, fill_cols=("v",), locf=True, interpolate=True)


def test_hampel_outliers_planted_spikes(spark):
    from tsmp_spark.operators.rollup import hampel_outliers

    # 20 points near 10.0 with two gross spikes: MAD flags exactly those,
    # where a mean/std z-score would be dragged by the spikes themselves
    vals = [10.0 + 0.1 * (i % 5) for i in range(18)] + [500.0, -500.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = hampel_outliers(df, bucket_sec=100, key_col="user_id", ts_col="sec").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 20 and r.n_outliers == 2
    assert abs(r.med - 10.2) < 1e-9
    # constant bucket: MAD = 0, nothing deviates, zero outliers
    const = hampel_outliers(
        spark.createDataFrame([(1, i, 5.0) for i in range(10)],
                              "user_id long, sec long, value double"),
        bucket_sec=100, key_col="user_id", ts_col="sec",
    ).collect()[0]
    assert const.mad == 0.0 and const.n_outliers == 0


def test_heavy_hitters_ranks_and_ties(spark):
    from tsmp_spark.operators.rollup import heavy_hitters

    rows = [("a", 0)] * 5 + [("b", 0)] * 3 + [("c", 0)] * 3 + [("d", 0)] * 1
    df = spark.createDataFrame([(t, s) for t, s in rows],
                               "event_type string, sec long")
    out = sorted(heavy_hitters(df, top=3, bucket_sec=100, ts_col="sec").collect(),
                 key=lambda r: r.rank)
    assert [(r.rank, r.event_type, r.cnt) for r in out] == [
        (1, "a", 5), (2, "b", 3), (3, "c", 3)]  # tie b/c broken by name


def test_theil_sen_robust_to_outliers(spark):
    from tsmp_spark.operators.rollup import theil_sen_trend

    # clean line v = 2x + 1 with one gross outlier: Theil-Sen recovers
    # the slope exactly, where least squares would be dragged
    rows = [(1, x, 2.0 * x + 1.0) for x in range(9)] + [(1, 9, 1000.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = theil_sen_trend(df, bucket_sec=100, key_col="user_id", ts_col="sec").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 10
    assert abs(r.slope - 2.0) < 1e-12
    assert abs(r.intercept - 1.0) < 1e-12
    # single-point bucket: no pair -> NULL slope/intercept, count kept
    one = theil_sen_trend(
        spark.createDataFrame([(7, 5, 3.0)], "user_id long, sec long, value double"),
        bucket_sec=100, key_col="user_id", ts_col="sec",
    ).collect()[0]
    assert one.n == 1 and one.slope is None and one.intercept is None


def test_cusum_matches_sequential_recurrence(spark):
    from tsmp_spark.operators.rollup import cusum_drift

    # prefix-sum identity must reproduce Page's sequential recurrence
    # s+ = max(0, s+ + v - k+), s- = max(0, s- + k- - v) exactly
    vals = [10.0, 12.5, 9.0, 30.0, 31.0, 29.5, 8.0, 2.0, 1.5, 10.0]
    target, slack, thr = 10.0, 1.0, 15.0
    sp = sn = 0.0
    expect = []
    for v in vals:
        sp = max(0.0, sp + v - (target + slack))
        sn = max(0.0, sn + (target - slack) - v)
        expect.append((sp, sn, sp > thr or sn > thr))
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)],
        "user_id long, sec long, value double",
    )
    out = sorted(
        cusum_drift(df, target=target, slack=slack, threshold=thr,
                    key_col="user_id", ts_col="sec").collect(),
        key=lambda r: r.sec,
    )
    for r, (ep, en, alarm) in zip(out, expect):
        assert abs(r.cusum_pos - ep) < 1e-9
        assert abs(r.cusum_neg - en) < 1e-9
        assert r.alarm == alarm


def test_mann_kendall_brute_force_and_ties(spark):
    from tsmp_spark.operators.rollup import mann_kendall

    # values with ties: S, tie-corrected Var(S), z, tau vs brute force
    vals = [3.0, 5.0, 5.0, 2.0, 8.0, 8.0, 8.0, 9.0]
    n = len(vals)
    s = sum(
        (vals[j] > vals[i]) - (vals[j] < vals[i])
        for i in range(n) for j in range(i + 1, n)
    )
    from collections import Counter
    tie_sum = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vals).values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0
    z = (s - (s > 0) + (s < 0)) / var_s ** 0.5
    tau = s / (n * (n - 1) / 2.0)
    df = spark.createDataFrame(
        [(i, 1, i, v) for i, v in enumerate(vals)],
        "event_id long, user_id long, sec long, value double",
    )
    r = mann_kendall(df, bucket_sec=1000, key_col="user_id",
                     ts_col="sec").collect()[0]
    assert (r.n, r.s) == (n, s)
    assert abs(r.var_s - var_s) < 1e-9
    assert abs(r.z - z) < 1e-12
    assert abs(r.tau - tau) < 1e-12
    # all-tied bucket: Var(S)=0 -> z NULL; single point -> tau NULL too
    flat = mann_kendall(
        spark.createDataFrame([(i, 1, i, 4.0) for i in range(5)],
                              "event_id long, user_id long, sec long, value double"),
        bucket_sec=1000, key_col="user_id", ts_col="sec",
    ).collect()[0]
    assert flat.s == 0 and flat.var_s == 0.0 and flat.z is None
    assert flat.tau == 0.0


def test_hll_accuracy_and_merge(spark):
    from pyspark.sql import functions as F
    from tsmp_spark.operators.sketch import hll_rollup

    # 5000 distinct items in one bucket: estimate within 3 sigma of the
    # HLL standard error 1.04/sqrt(512) ~= 4.6%
    df = spark.createDataFrame(
        [(i % 5000, i % 97) for i in range(20000)], "user_id long, sec long"
    )
    r = hll_rollup(df, bucket_sec=1000, item_col="user_id", ts_col="sec").collect()[0]
    assert abs(r.est / 5000.0 - 1.0) < 3 * 1.04 / 512 ** 0.5
    # merge = recompute: registers from two disjoint halves, merged with
    # register-wise max, give the SAME sketch as the whole set (the
    # re-rollup property that makes this a continuous-aggregate column)
    lo = hll_rollup(
        df.where(F.col("user_id") < 2500), bucket_sec=1000,
        item_col="user_id", ts_col="sec",
    ).collect()[0]
    hi = hll_rollup(
        df.where(F.col("user_id") >= 2500), bucket_sec=1000,
        item_col="user_id", ts_col="sec",
    ).collect()[0]
    # zeros/z_int are sufficient statistics only for the union of
    # registers; rebuild the union via the operator on the union input
    # and check both paths agree exactly (same integers -> same est)
    both = hll_rollup(
        df.where(F.col("user_id") < 2500).union(df.where(F.col("user_id") >= 2500)),
        bucket_sec=1000, item_col="user_id", ts_col="sec",
    ).collect()[0]
    assert (both.zeros, both.z_int, both.est) == (r.zeros, r.z_int, r.est)
    # and the halves genuinely carry partial state (more empty registers)
    assert lo.zeros > r.zeros and hi.zeros > r.zeros


def test_cms_overestimates_and_merges(spark):
    from tsmp_spark.operators.sketch import cms_counts, CMS_W, CMS_D
    from tsmp_spark.operators.dedup import _h64
    from pyspark.sql import functions as F

    # 2000 distinct items (>> w=256 counters -> forced collisions):
    # every estimate must be >= the true count, and collision-free rows
    # must be exact
    rows = [(f"item{i % 2000}", 0) for i in range(6000)]
    df = spark.createDataFrame(rows, "event_type string, sec long")
    out = cms_counts(df, bucket_sec=1000, item_col="event_type", ts_col="sec")
    got = out.collect()
    assert len(got) == 2000
    assert all(r.est >= r.cnt for r in got)
    assert any(r.est > r.cnt for r in got)  # collisions actually happened
    # exact count column is the true frequency
    assert all(r.cnt == 3 for r in got)
    # shard monotonicity: split items disjointly by hash — a half
    # sketch sees a subset of the colliding mass, so per-item estimates
    # from the halves can only be <= the whole sketch's, never greater
    # (counter cells are sums, merging shards adds them back)
    whole = {r.item: r.est for r in got}
    h = _h64(F.col("event_type"), 7) % 2 == 0
    a = cms_counts(df.where(h), bucket_sec=1000, item_col="event_type", ts_col="sec")
    b = cms_counts(df.where(~h), bucket_sec=1000, item_col="event_type", ts_col="sec")
    for r in a.collect() + b.collect():
        assert r.est <= whole[r.item]


def test_histogram_quantile_lerp_semantics(spark):
    from tsmp_spark.operators.rollup import histogram_quantile, rollup_histogram

    # 100 values uniform over [0, 100): bin width 6.25 on 16 bins,
    # q=0.5 -> rank 50 falls in bin 8 (cum 48 -> 54) at known lerp
    rows = [(1, 0, float(v)) for v in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, pos long, value double")
    hist = rollup_histogram(df, 1000, lo=0.0, hi=100.0, n_bins=16,
                            key_col="doc_id", pos_col="pos")
    counts = {r.bin: r.cnt for r in hist.collect()}
    out = histogram_quantile(hist, q=0.5, lo=0.0, hi=100.0, n_bins=16,
                             key_col="doc_id").collect()
    assert len(out) == 1
    r = out[0]
    cum_prev = sum(c for b, c in counts.items() if b < r.qbin)
    assert cum_prev < 50 <= cum_prev + counts[r.qbin]
    expect = 0.0 + r.qbin * 6.25 + (50.0 - cum_prev) / counts[r.qbin] * 6.25
    assert r.total == 100 and r.qvalue == expect
    # q = 1.0 picks the highest non-empty bin and lands on its upper edge
    top = histogram_quantile(hist, q=1.0, lo=0.0, hi=100.0, n_bins=16,
                             key_col="doc_id").collect()[0]
    assert top.qbin == max(counts)
    assert abs(top.qvalue - (top.qbin * 6.25 + 6.25)) < 1e-9


def test_interval_coalesce_merge_touch_disjoint(spark):
    from tsmp_spark.operators.rollup import interval_coalesce

    iv = spark.createDataFrame(
        [
            (1, 0, 10), (1, 5, 20),      # overlap -> [0, 20]
            (1, 20, 30),                 # touches end 20 -> merges
            (1, 100, 110),               # disjoint island
            (2, 7, 8),                   # other key untouched
        ],
        "user_id long, start long, end long",
    )
    out = sorted(
        interval_coalesce(iv, key_col="user_id").collect(),
        key=lambda r: (r.user_id, r.start),
    )
    assert [(r.user_id, r.start, r.end, r.n_merged) for r in out] == [
        (1, 0, 30, 3), (1, 100, 110, 1), (2, 7, 8, 1)]
    # containment: an interval inside a longer prior one must not split
    # the island even though its own end is small
    nested = interval_coalesce(
        spark.createDataFrame([(1, 0, 100), (1, 10, 20), (1, 50, 200)],
                              "user_id long, start long, end long"),
        key_col="user_id",
    ).collect()
    assert [(r.start, r.end, r.n_merged) for r in nested] == [(0, 200, 3)]


def test_sliding_rollup_trailing_window(spark):
    from tsmp_spark.operators.rollup import sliding_rollup

    # hourly points at buckets 0,1,2,30 with values 1,2,3,10 and a
    # 3-bucket trailing window: range framing must NOT stretch across
    # the gap (bucket 30 sees only itself)
    rows = [(1, 0, 1.0), (1, 3600, 2.0), (1, 7200, 3.0), (1, 108000, 10.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = {r.bucket: r for r in sliding_rollup(
        df, bucket_sec=3600, trail_buckets=3, key_col="user_id",
        ts_col="sec").collect()}
    assert out[0].trail_sum == 1.0 and out[0].trail_cnt == 1
    assert out[1].trail_sum == 3.0 and out[1].trail_avg == 1.5
    assert out[2].trail_sum == 6.0 and out[2].trail_avg == 2.0
    assert out[2].trail_min == 1.0 and out[2].trail_max == 3.0
    assert out[30].trail_cnt == 1 and out[30].trail_sum == 10.0


def test_interval_join_bucketization_lossless(spark):
    from tsmp_spark.operators.rollup import interval_join

    # interval [95, 205) at grain 100 spans buckets 0,1,2 — an event in
    # each bucket region must match; boundary semantics: t=95 in, t=205
    # out (half-open), t=94 out
    iv = spark.createDataFrame([(1, 95, 205, 0), (1, 300, 310, 1)],
                               "user_id long, start long, end long, island long")
    ev = spark.createDataFrame(
        [(1, t) for t in [94, 95, 150, 204, 205, 299, 300, 309, 310]],
        "user_id long, sec long",
    )
    got = sorted((r.sec, r.island) for r in interval_join(
        ev, iv, grain_sec=100, key_col="user_id", ts_col="sec").collect())
    assert got == [(95, 0), (150, 0), (204, 0), (300, 1), (309, 1)]
    # inclusive-end mode admits t == end
    inc = sorted((r.sec, r.island) for r in interval_join(
        ev, iv, grain_sec=100, key_col="user_id", ts_col="sec",
        half_open=False).collect())
    assert (205, 0) in inc and (310, 1) in inc
    # overlapping intervals: an event inside both matches twice
    iv2 = spark.createDataFrame([(1, 0, 100, 0), (1, 50, 150, 1)],
                                "user_id long, start long, end long, island long")
    both = interval_join(
        spark.createDataFrame([(1, 75)], "user_id long, sec long"),
        iv2, grain_sec=100, key_col="user_id", ts_col="sec").collect()
    assert sorted(r.island for r in both) == [0, 1]


def test_holt_matches_statsmodels_style_recurrence(spark):
    from tsmp_spark.operators.rollup import holt_smooth

    vals = [10.0, 12.0, 13.0, 15.0, 14.0, 18.0, 21.0, 20.0]
    a, b = 0.5, 0.25
    lev, tr = vals[0], vals[1] - vals[0]
    exp = [(lev, tr)]
    for v in vals[1:]:
        nl = a * v + (1 - a) * (lev + tr)
        tr = b * (nl - lev) + (1 - b) * tr
        lev = nl
        exp.append((lev, tr))
    df = spark.createDataFrame([(1, i, v) for i, v in enumerate(vals)],
                               "user_id long, sec long, value double")
    out = sorted(holt_smooth(df, key_col="user_id", ts_col="sec").collect(),
                 key=lambda r: r.sec)
    assert len(out) == len(vals)
    for r, (el, et) in zip(out, exp):
        assert r.level == el and r.trend == et  # bit-exact, dyadic params
        assert r.forecast == el + et
    # a linear ramp is tracked exactly: level == value, trend == slope
    ramp = holt_smooth(
        spark.createDataFrame([(1, i, 3.0 * i + 2) for i in range(10)],
                              "user_id long, sec long, value double"),
        key_col="user_id", ts_col="sec",
    ).collect()
    for r in ramp:
        assert abs(r.level - (3.0 * r.sec + 2)) < 1e-9
        assert abs(r.trend - 3.0) < 1e-9
    # single-point series emits nothing (no trend to initialize)
    assert holt_smooth(
        spark.createDataFrame([(1, 0, 5.0)], "user_id long, sec long, value double"),
        key_col="user_id", ts_col="sec",
    ).count() == 0


def test_seasonality_profile_calendar_cells(spark):
    from tsmp_spark.operators.rollup import seasonality_profile

    # epoch 0 is Thursday 00:00 UTC -> dow 3; +4 days is Monday -> dow 0
    rows = [
        ("a", 0, 2.0), ("a", 3600, 4.0),            # thu 00h, thu 01h
        ("a", 4 * 86400 + 2 * 3600, 6.0),           # mon 02h
        ("a", 4 * 86400 + 2 * 3600 + 59, 8.0),      # same mon 02h cell
        ("b", 0, 1.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    got = {(r.event_type, r.dow, r.hour): r
           for r in seasonality_profile(df, ts_col="sec").collect()}
    assert set(got) == {("a", 3, 0), ("a", 3, 1), ("a", 0, 2), ("b", 3, 0)}
    cell = got[("a", 0, 2)]
    assert cell.cnt == 2 and cell.mean_value == 7.0 and cell.share == 0.5
    assert got[("a", 3, 0)].share == 0.25
    assert got[("b", 3, 0)].share == 1.0


def test_seasonal_anomaly_loo_baseline(spark):
    from tsmp_spark.operators.rollup import seasonal_anomaly

    # same Monday-02h cell across 3 weeks: values 10, 10, 50 — only the
    # 50 deviates from ITS leave-one-out mean (10) by > 3; the 10s
    # deviate from (10+50)/2 = 30 by 20 -> also flagged. A fourth point
    # in a different hour has no baseline -> NULL mean, not flagged.
    base = 4 * 86400 + 2 * 3600  # Monday 02:00
    rows = [("a", base, 10.0), ("a", base + 7 * 86400, 10.0),
            ("a", base + 14 * 86400, 50.0), ("a", base + 3600, 7.0)]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    got = {r.sec: r for r in seasonal_anomaly(df, threshold=3.0,
                                              ts_col="sec").collect()}
    assert got[base].loo_mean == 30.0 and got[base].anomaly
    assert got[base + 14 * 86400].loo_mean == 10.0
    assert got[base + 14 * 86400].deviation == 40.0
    assert got[base + 14 * 86400].anomaly
    lone = got[base + 3600]
    assert lone.loo_mean is None and lone.anomaly is False
    # tight cluster: nothing flagged at the same threshold
    calm = seasonal_anomaly(
        spark.createDataFrame(
            [("a", base + 7 * 86400 * k, 10.0 + 0.1 * k) for k in range(4)],
            "event_type string, sec long, value double"),
        threshold=3.0, ts_col="sec",
    ).collect()
    assert not any(r.anomaly for r in calm)


def test_funnel_greedy_chain_and_window(spark):
    from tsmp_spark.operators.rollup import funnel_steps

    rows = [
        # user 1 completes A->B->C; B before A must NOT count
        (1, 5, "B"), (1, 10, "A"), (1, 20, "B"), (1, 30, "C"),
        # user 2 stalls at B (C happens before B, so the chain breaks)
        (2, 0, "A"), (2, 5, "C"), (2, 8, "B"),
        # user 3 never enters (no A)
        (3, 0, "B"), (3, 1, "C"),
        # user 4: B outside the window
        (4, 0, "A"), (4, 500, "B"), (4, 600, "C"),
        # user 5: same-second chain (>= semantics)
        (5, 7, "A"), (5, 7, "B"), (5, 7, "C"),
    ]
    df = spark.createDataFrame(rows, "user_id long, sec long, event_type string")
    got = {r.user_id: r for r in funnel_steps(
        df, ["A", "B", "C"], window_sec=100, key_col="user_id",
        ts_col="sec").collect()}
    assert set(got) == {1, 2, 4, 5}
    assert (got[1].t1, got[1].t2, got[1].t3, got[1].steps_reached) == (10, 20, 30, 3)
    assert (got[2].t2, got[2].t3, got[2].steps_reached) == (8, None, 2)
    assert (got[4].t2, got[4].steps_reached) == (None, 1)
    assert (got[5].t1, got[5].t2, got[5].t3) == (7, 7, 7)


def test_bloom_probe_semantics(spark):
    from tsmp_spark.operators.sketch import bloom_probe_stats

    # build side: 3000 keys -> ~12000 of 4096 bit positions set (dense
    # filter), disjoint probe side -> false positives MUST appear;
    # false negatives are impossible by construction
    build = spark.createDataFrame([(f"b{i}",) for i in range(3000)], "k string")
    probe = spark.createDataFrame(
        [(f"b{i % 100}",) for i in range(200)]
        + [(f"p{i}",) for i in range(500)],
        "k string",
    )
    out = bloom_probe_stats(probe, build, "k", "k").collect()
    got = {r.item: r for r in out}
    assert len(got) == 600
    # every true member hits (no false negatives), with probe counts
    for i in range(100):
        r = got[f"b{i}"]
        assert (r.hit, r.actual, r.probes) == (1, 1, 2)
    # dense filter: false positives observed, and flagged as such
    fps = [r for r in out if r.hit == 1 and r.actual == 0]
    assert fps, "expected false positives on a saturated filter"
    assert all(r.actual == 0 and r.probes == 1 for r in fps)
    # monotone under build union (bitmap OR = position-set union):
    # anything that hit against half the build still hits with all of it
    half = spark.createDataFrame([(f"b{i}",) for i in range(1500)], "k string")
    half_hits = {
        r.item for r in bloom_probe_stats(probe, half, "k", "k").collect()
        if r.hit == 1
    }
    whole_hits = {r.item for r in out if r.hit == 1}
    assert half_hits <= whole_hits


def test_holt_winters_recurrence_and_seasonal_recovery(spark):
    from tsmp_spark.operators.rollup import holt_winters

    # bit-exact replay of the documented recurrence (dyadic params),
    # phases cycling 0,1,2,0,1,2 via sec = i*3600 with period=3... the
    # operator hard-wires hourly phases, so pick secs that land phases
    # 0,1,0,1 within period=24: i alternates hour 0 and hour 1
    secs = [0, 3600, 86400, 90000, 172800, 176400]   # ph 0,1,0,1,0,1
    vals = [10.0, 2.0, 11.0, 3.0, 12.0, 4.0]
    a, b, g = 0.5, 0.25, 0.5
    lev, tr = vals[0], vals[1] - vals[0]
    s = [0.0] * 24
    exp = [(lev, tr, 0.0)]
    phases = [(t // 3600) % 24 for t in secs]
    s[phases[0]] = g * (vals[0] - lev) + (1 - g) * s[phases[0]]
    for v, ph in zip(vals[1:], phases[1:]):
        sp = s[ph]
        nl = a * (v - sp) + (1 - a) * (lev + tr)
        tr = b * (nl - lev) + (1 - b) * tr
        lev = nl
        s[ph] = g * (v - lev) + (1 - g) * sp
        exp.append((lev, tr, s[ph]))
    df = spark.createDataFrame(
        [(1, t, v) for t, v in zip(secs, vals)],
        "user_id long, sec long, value double",
    )
    out = sorted(holt_winters(df, key_col="user_id", ts_col="sec").collect(),
                 key=lambda r: r.sec)
    for r, (el, et, es) in zip(out, exp):
        assert (r.level, r.trend, r.seasonal) == (el, et, es)
    # seasonal recovery: flat base 100 with a planted +50 spike every
    # day at hour 5 — after burn-in the hour-5 seasonal state
    # approaches +50*(their share under gamma smoothing) and is far
    # above every other phase's
    rows = []
    for d in range(30):
        for h in range(24):
            rows.append((1, d * 86400 + h * 3600,
                         100.0 + (50.0 if h == 5 else 0.0)))
    big = holt_winters(
        spark.createDataFrame(rows, "user_id long, sec long, value double"),
        key_col="user_id", ts_col="sec",
    ).collect()
    last_day = [r for r in big if r.sec >= 29 * 86400]
    s5 = [r.seasonal for r in last_day if (r.sec // 3600) % 24 == 5]
    rest = [abs(r.seasonal) for r in last_day if (r.sec // 3600) % 24 != 5]
    assert s5 and s5[0] > 25.0 and max(rest) < s5[0] / 2
    # single-point series emits nothing (holt convention)
    assert holt_winters(
        spark.createDataFrame([(1, 0, 5.0)], "user_id long, sec long, value double"),
        key_col="user_id", ts_col="sec",
    ).count() == 0


def test_phash_neardup_semantics(spark):
    import itertools
    from tsmp_spark.operators.multimodal import (
        perceptual_hash, phash_neardup_pairs,
    )
    import pyspark.sql.functions as F_

    texts = {
        "m1": "the quick brown fox jumps over the lazy dog " * 20,
        "m2": "the quick brown fox jumps over the lazy dog " * 20,  # exact dup
        "m3": "completely different payload content here!!! " * 25,
        "m4": "ZZZZ" * 300,
        "m5": "",
        "m6": "",  # blank pair: all-zero hash
    }
    media = spark.createDataFrame(
        [(k, "image", v) for k, v in texts.items()], "media_id string, kind string, txt string"
    ).select("media_id", "kind", F_.encode("txt", "UTF-8").alias("payload"))
    sig = {r.media_id: (r.b0, r.b1, r.b2, r.b3)
           for r in perceptual_hash(media).collect()}
    assert len(sig) == 6
    assert sig["m1"] == sig["m2"]
    assert sig["m5"] == sig["m6"] == (0, 0, 0, 0)
    assert sig["m1"] != sig["m3"]
    # bands are 16-bit non-negative
    for b in itertools.chain.from_iterable(sig.values()):
        assert 0 <= b < (1 << 16)
    # banded join == brute force over the signatures (pigeonhole is
    # lossless for d <= 3)
    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))
    brute = {
        tuple(sorted((i, j))): ham(sig[i], sig[j])
        for i, j in itertools.combinations(sig, 2)
        if ham(sig[i], sig[j]) <= 3
    }
    got = {(r.id_a, r.id_b): r.hamming
           for r in phash_neardup_pairs(media).collect()}
    assert got == brute
    assert got[("m1", "m2")] == 0 and got[("m5", "m6")] == 0
    # pigeonhole contract is loud
    import pytest as _pt
    with _pt.raises(ValueError):
        phash_neardup_pairs(media, max_hamming=4)


def test_tfidf_topk_vs_python(spark):
    import math
    from collections import Counter
    from tsmp_spark.operators.text import tfidf_topk_terms

    corpus = {
        1: "apple banana apple cherry",
        2: "banana cherry cherry date",
        3: "apple unique banana",
        4: "date date date egg",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = tfidf_topk_terms(df, k=3).collect()
    # independent python model
    docs = {d: t.lower().strip().split() for d, t in corpus.items()}
    n = len(docs)
    dfreq = Counter()
    for words in docs.values():
        dfreq.update(set(words))
    exp = {}
    for d, words in docs.items():
        tf = Counter(words)
        scores = {
            t: round(c * (math.log((n + 1) / (dfreq[t] + 1)) + 1.0), 6)
            for t, c in tf.items()
        }
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        exp[d] = [(t, s) for t, s in top]
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.rank)
        assert [(r.term, r.score) for r in rows] == exp[d]
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    # 'unique' (df=1) is doc 3's top keyword; stopword-ish 'banana'
    # (df=3) ranks below it
    assert by_doc[3][0].term == "unique"


def test_tier_merge_identities(spark):
    """merge==recompute for the three mergeable rollup columns, pinned
    on a grid that actually crosses tier boundaries."""
    from tsmp_spark.operators.rollup import histogram_rerollup, rollup_histogram
    from tsmp_spark.operators.sketch import cms_rerollup, cms_counts, hll_rerollup, hll_rollup

    rows = [(i % 7, i * 613, float((i * 37) % 11 - 5), f"e{i % 5}")
            for i in range(4000)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double, event_type string")
    # histogram: fine 1000 -> coarse 4000 == direct 4000
    a = sorted(map(tuple, histogram_rerollup(df, 1000, 4000, lo=-5.0, hi=5.0,
                                             n_bins=8, key_col="user_id",
                                             pos_col="sec").collect()))
    b = sorted(map(tuple, rollup_histogram(df, 4000, lo=-5.0, hi=5.0, n_bins=8,
                                           key_col="user_id",
                                           pos_col="sec").collect()))
    assert a == b
    # cms: fine 1000 -> coarse 4000 == direct 4000
    a = sorted(map(tuple, cms_rerollup(df, 1000, 4000).collect()))
    b = sorted(map(tuple, cms_counts(df, 4000).collect()))
    assert a == b
    # hll: fine 1000 -> coarse 4000 == direct 4000
    a = sorted(map(tuple, hll_rerollup(df, 1000, 4000).collect()))
    b = sorted(map(tuple, hll_rollup(df, 4000).collect()))
    assert a == b
    # non-nesting grids are loud
    import pytest as _pt
    for fn in (lambda: hll_rerollup(df, 1000, 4500),
               lambda: cms_rerollup(df, 1000, 4500),
               lambda: histogram_rerollup(df, 1000, 4500, lo=0, hi=1)):
        with _pt.raises(ValueError):
            fn()


def test_hashed_bow_vectorizer(spark):
    """Linearity + determinism of the hashing-trick vectorizer: v(doc
    twice-repeated) == 2*v(doc); identical docs get identical vectors;
    a doc with no words emits nothing; values are signed integers."""
    from tsmp_spark.operators.text import hashed_bow_vectors

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma delta alpha beta gamma delta"),
         (4, "   "), (5, "zeta")],
        "doc_id long, text string",
    )
    rows = hashed_bow_vectors(df, dim=16).collect()
    v = {}
    for r in rows:
        v.setdefault(r.doc_id, {})[r.dim] = r.value
    assert v[1] == v[2]
    assert v[3] == {d: 2 * x for d, x in v[1].items() if 2 * x != 0}
    assert 4 not in v
    assert all(isinstance(x, int) for comp in v.values() for x in comp.values())
    # sign balance: a single word contributes exactly +-1 in one bucket
    assert len(v[5]) == 1 and abs(next(iter(v[5].values()))) == 1


def test_spectral_residual_detects_planted_spike(spark):
    from tsmp_spark.operators.rollup import spectral_residual

    # one observation per 100-sec bucket: smooth sine base + one spike
    rows = []
    import math
    for i in range(48):
        v = 10.0 + math.sin(i / 3.0) + (25.0 if i == 30 else 0.0)
        rows.append((1, i * 100, v))
    # a constant series and a 3-point series emit nothing
    rows += [(2, i * 100, 7.0) for i in range(20)]
    rows += [(3, i * 100, float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = spectral_residual(df, bucket_sec=100, key_col="user_id",
                            ts_col="sec").collect()
    assert {r.user_id for r in out} == {1}
    sal = {r.bucket: r.salience for r in out if r.user_id == 1}
    assert len(sal) == 48
    top = max(sal, key=sal.get)
    assert top == 30                      # the spike is the most salient
    others = sorted(sal.values())[:-1]
    assert sal[30] > 5 * others[len(others) // 2]  # and by a wide margin


def test_haar_transform_invertible_and_exact(spark):
    from tsmp_spark.operators.rollup import haar_transform

    # 8 buckets, one observation each -> micro-unit sums are the values
    vals = [1.0, 5.0, 3.0, 3.0, 8.0, 2.0, 0.0, 4.0]
    rows = [(1, i * 100, v) for i, v in enumerate(vals)]
    # a 5-bucket series truncates to 4; a 1-bucket series emits nothing
    rows += [(2, i * 100, float(i + 1)) for i in range(5)]
    rows += [(3, 0, 9.0)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = haar_transform(df, bucket_sec=100, key_col="user_id",
                         ts_col="sec").collect()
    assert {r.user_id for r in out} == {1, 2}
    got = {(r.user_id, r.level, r.idx, r.is_approx): r.coef for r in out}
    u = [int(v * 1_000_000) for v in vals]
    # level 1: pairwise diffs/then-sums of [1,5,3,3,8,2,0,4] micro
    assert [got[(1, 1, i, 0)] for i in range(4)] == [
        u[0] - u[1], u[2] - u[3], u[4] - u[5], u[6] - u[7]]
    l1 = [u[0] + u[1], u[2] + u[3], u[4] + u[5], u[6] + u[7]]
    assert [got[(1, 2, i, 0)] for i in range(2)] == [l1[0] - l1[1], l1[2] - l1[3]]
    l2 = [l1[0] + l1[1], l1[2] + l1[3]]
    assert got[(1, 3, 0, 0)] == l2[0] - l2[1]
    assert got[(1, 3, 0, 1)] == l2[0] + l2[1] == sum(u)  # total sum
    # truncation: user 2 (5 buckets) keeps the first 4 -> levels 1..2,
    # approx = sum of first 4 values only
    assert got[(2, 2, 0, 1)] == sum(int(v * 1_000_000) for v in [1, 2, 3, 4])
    # lossless inversion at every level: reconstruct level-0 from coefs
    a = [got[(1, 3, 0, 1)]]
    for lev in (3, 2, 1):
        d = [got[(1, lev, i, 0)] for i in range(len(a))]
        nxt = []
        for s, dd in zip(a, d):
            nxt += [(s + dd) // 2, (s - dd) // 2]
        a = nxt
    assert a == u


def test_fuzzy_vocab_pairs_symspell(spark):
    import itertools
    from tsmp_spark.operators.text import fuzzy_vocab_pairs

    corpus = [(1, "receive recieve beleive believe night nigth might"),
              (2, "receive receive data date daate x9 ab"),
              (3, "zebra Zebra ZEBRA")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {(r.word_a, r.word_b): (r.cnt_a, r.cnt_b, r.dist)
           for r in fuzzy_vocab_pairs(docs).collect()}
    # brute-force python reference over the same filtered vocab
    import re as _re
    words = []
    for _, t in corpus:
        words += [w for w in t.lower().strip().split()
                  if _re.fullmatch("[a-z0-9]+", w) and 3 <= len(w) <= 24]
    from collections import Counter
    cnt = Counter(words)

    def ed1(a, b):
        if a == b:
            return 0
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return 99
        if la == lb:
            return 1 if sum(x != y for x, y in zip(a, b)) == 1 else 99
        if la > lb:
            a, b, la, lb = b, a, lb, la
        for i in range(lb):
            if b[:i] + b[i + 1:] == a:
                return 1
        return 99
    want = {}
    for a, b in itertools.combinations(sorted(cnt), 2):
        d = ed1(a, b)
        if d <= 1:
            want[(a, b)] = (cnt[a], cnt[b], d)
    assert got == want
    # substitution, deletion, and insertion neighbours all found; note
    # transpositions (recieve/receive, nigth/night) are ed-2 in PLAIN
    # Levenshtein — correctly absent (Damerau would need 2-del variants)
    assert ("might", "night") in got       # substitution
    assert ("data", "date") in got         # substitution
    assert ("daate", "date") in got        # deletion/insertion
    assert ("night", "nigth") not in got
    # counts ride along; 'ab' (len 2) was filtered, case folded
    assert got[("data", "date")] == (1, 1, 1)
    assert all("ab" not in k for k in got)
    # max_variant_freq counts DISTINCT vocab entries per variant key:
    # 'kxxk' emits variant 'kxk' twice (delete either x) but is ONE
    # vocab entry, so with cap=2 the {kxk, kxxk} pair must survive
    # (row-counting would see 3 rows on 'kxk' and over-prune).
    docs2 = spark.createDataFrame(
        [(1, "kxk kxxk unrelated words")], "doc_id long, text string"
    )
    capped = {(r.word_a, r.word_b)
              for r in fuzzy_vocab_pairs(docs2, max_variant_freq=2).collect()}
    assert ("kxk", "kxxk") in capped


def test_zorder_key_interleave_and_locality(spark):
    from tsmp_spark.operators.rollup import zorder_key

    # known interleaves: z(x, y) interleaves x into even bits, y into odd
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (3, 5), (65535, 65535),
         (65536, 0)],
        "x long, y long",
    )
    got = {(r.x, r.y): r.zkey for r in zorder_key(df, "x", "y").collect()}
    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z
    for (x, y), z in got.items():
        assert z == ref(x & 0xFFFF, y & 0xFFFF)
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(65535, 65535)] == (1 << 32) - 1
    assert got[(65536, 0)] == 0  # masked to 16 bits, documented
    # locality: on an 8x8 grid, sorting by zkey keeps 2-D neighbors
    # closer (average |rank(a)-rank(b)| over unit-distance pairs) than
    # row-major order keeps COLUMN neighbors — the pruning win
    import itertools
    pts = list(itertools.product(range(8), repeat=2))
    grid = spark.createDataFrame(pts, "x long, y long")
    zr = {(r.x, r.y): r.zkey for r in zorder_key(grid, "x", "y").collect()}
    zrank = {p: i for i, p in enumerate(sorted(pts, key=lambda p: zr[p]))}
    rrank = {p: i for i, p in enumerate(sorted(pts))}  # row-major (x, y)
    # the pruning metric: write the 64 rows as 8 "files" of 8 rows in
    # sort order; a 2-D query box should touch FEWER files under z-order
    def files_touched(rank, box):
        return len({rank[p] // 8 for p in box})
    boxes = [[(x0 + dx, y0 + dy) for dx in range(4) for dy in range(4)]
             for x0 in (0, 4) for y0 in (0, 4)]
    z_files = sum(files_touched(zrank, b) for b in boxes)
    r_files = sum(files_touched(rrank, b) for b in boxes)
    assert z_files < r_files  # 2 files/box under z-order vs 4 row-major
    assert z_files == 8 and r_files == 16


def test_rate_limit_replay_token_bucket(spark):
    import pytest as _pt
    from tsmp_spark.operators.rollup import rate_limit_replay

    # burst of 8 at t=0 against capacity 5: first 5 admitted; one token
    # refills by t=1 (1/s); long gap refills to cap but never beyond
    rows = ([(1, 0, i) for i in range(8)]
            + [(1, 1, 8), (1, 100, 9), (1, 100, 10), (1, 100, 11),
               (1, 100, 12), (1, 100, 13), (1, 100, 14)])
    df = spark.createDataFrame(rows, "user_id long, sec long, event_id long")
    out = sorted(rate_limit_replay(df, capacity=5, refill_per_sec=1,
                                   key_col="user_id", ts_col="sec").collect(),
                 key=lambda r: (r.sec, r.event_id))
    flags = [r.allowed for r in out]
    assert flags[:8] == [1, 1, 1, 1, 1, 0, 0, 0]   # burst: 5 pass
    assert flags[8] == 1                            # t=1: one refilled
    # t=100: bucket refilled to CAP (5), not 99 — 5 pass, 6th denied
    assert flags[9:15] == [1, 1, 1, 1, 1, 0]
    toks = [r.tokens_after for r in out]
    assert toks[:5] == [4, 3, 2, 1, 0] and toks[8] == 0
    assert toks[9] == 4 and toks[14] == 0
    with _pt.raises(ValueError):
        rate_limit_replay(df, capacity=0)


def test_hll_sliding_equals_window_recompute(spark):
    from tsmp_spark.operators.sketch import hll_rollup, hll_sliding_rollup

    # users churn daily; day d sees users [100d, 100d+150) -> overlap
    rows = [(100 * d + u, d * 1000) for d in range(10) for u in range(150)]
    # drop day 4 entirely: the window must bridge the gap, and no row
    # may be emitted FOR day 4 (unobserved buckets emit nothing)
    rows = [r for r in rows if r[1] // 1000 != 4]
    df = spark.createDataFrame(rows, "user_id long, sec long")
    got = {r.bucket: r for r in hll_sliding_rollup(
        df, bucket_sec=1000, window_buckets=3).collect()}
    assert 4 not in got
    assert set(got) == {0, 1, 2, 3, 5, 6, 7, 8, 9}
    # each window estimate equals the plain rollup over the window's
    # raw rows (merge == recompute, per target bucket)
    for b, r in got.items():
        sub = df.where((df.sec >= (b - 2) * 1000) & (df.sec < (b + 1) * 1000))
        whole = hll_rollup(sub.selectExpr("user_id", f"{b * 1000} as sec"),
                           bucket_sec=1000).collect()[0]
        assert (r.zeros, r.z_int, r.est) == (whole.zeros, whole.z_int, whole.est)


def test_bloom_probe_empty_build_side(spark):
    """Empty build relation: every probe is a clean miss (no crash —
    the kmeans empty-input lesson applied to the bloom sketch)."""
    from tsmp_spark.operators.sketch import bloom_probe_stats

    probe = spark.createDataFrame([("p1",), ("p2",)], "k string")
    build = spark.createDataFrame([], "k string")
    out = bloom_probe_stats(probe, build, "k", "k").collect()
    assert {(r.item, r.hit, r.actual) for r in out} == {
        ("p1", 0, 0), ("p2", 0, 0)}


def test_change_point_finds_planted_level_shift(spark):
    from tsmp_spark.operators.rollup import change_point

    # user 1: level 10 for 20 buckets then 50 for 20 -> split at k=20
    rows = [(1, i * 100, 10.0 if i < 20 else 50.0) for i in range(40)]
    # user 2: constant -> equal objectives, tie-break picks k=min_seg
    rows += [(2, i * 100, 7.0) for i in range(10)]
    # user 3: too short for any admissible split
    rows += [(3, i * 100, float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "user_id long, sec long, value double")
    out = {r.user_id: r for r in change_point(
        df, bucket_sec=100, min_seg=2, key_col="user_id",
        ts_col="sec").collect()}
    assert set(out) == {1, 2}
    assert out[1].k == 20 and out[1].split_bucket == 20 and out[1].gain > 0
    assert out[2].k == 2 and out[2].gain == 0.0
    # plan: fully relational, no Python
    plan = change_point(df, bucket_sec=100, key_col="user_id",
                        ts_col="sec")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_session_funnel_scopes_conversion_to_sessions(spark):
    from tsmp_spark.operators.rollup import session_funnel

    rows = [
        # session 0: signup+click, NO purchase in session
        (1, 100, "signup", 1), (1, 200, "click", 2),
        # gap > 1000 -> session 1: purchase alone (no signup -> no funnel row)
        (1, 5000, "purchase", 3),
        # session 2: full conversion inside one visit
        (1, 10000, "signup", 4), (1, 10200, "click", 5),
        (1, 10400, "purchase", 6),
        # user 2: click BEFORE signup within a session -> chain stalls at 1
        (2, 100, "click", 7), (2, 200, "signup", 8),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, sec long, event_type string, event_id long")
    out = {(r.user_id, r.session_idx): r for r in session_funnel(
        df, ["signup", "click", "purchase"], gap=1000,
        key_col="user_id", ts_col="sec", tie_col="event_id").collect()}
    # user 1 session 0: reached 2 (purchase was in ANOTHER session —
    # the whole point vs user-scoped funnel_steps, which would count it)
    assert out[(1, 0)].steps_reached == 2 and out[(1, 0)].t3 is None
    assert (1, 1) not in out           # session without the entry step
    r = out[(1, 2)]
    assert (r.t1, r.t2, r.t3, r.steps_reached) == (10000, 10200, 10400, 3)
    assert out[(2, 0)].steps_reached == 1  # click precedes signup


def test_consensus_motif_planted_shared_pattern(spark):
    """Three series share one exact motif at known offsets; the
    consensus radius there is ~0 and every doc's best position is its
    planted offset. Model of q_consensus_motif's core (radius = max
    over others of min cross-distance, argmin per doc)."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from tsmp_spark.operators import matrix_profile_join
    from tsmp_spark.queries import W, _r4

    rng = np.random.default_rng(7)
    motif = np.cumsum(rng.normal(0, 1, W)) + np.linspace(0, 5, W)
    offs = {1: 10, 2: 25, 3: 3}
    docs = {}
    for d, off in offs.items():
        x = np.cumsum(rng.normal(0, 1, 60))
        x[off:off + W] = motif
        docs[d] = x.tolist()
    rows = [(str(a), docs[a], str(b), docs[b])
            for a in docs for b in docs if a != b]
    pairs = spark.createDataFrame(
        rows,
        "doc_id_a string, tokens_a array<double>, "
        "doc_id_b string, tokens_b array<double>",
    )
    prof = matrix_profile_join(pairs, W)
    radius = (
        prof.filter((F.col("side") == "a") & (F.col("pi") >= 0))
        .select(F.col("doc_id_a").cast("long").alias("doc_id"), "pos",
                _r4("mp").alias("md"))
        .groupBy("doc_id", "pos")
        .agg(F.max("md").alias("radius"), F.count("*").alias("nb"))
        .filter(F.col("nb") == 2)
    )
    w = Window.partitionBy("doc_id").orderBy("radius", "pos")
    best = {r.doc_id: r for r in radius.withColumn(
        "rn", F.row_number().over(w)).filter("rn = 1").collect()}
    for d, off in offs.items():
        assert best[d].pos == off, (d, best[d])
        assert best[d].radius < 0.01


def test_source_contamination_matrix(spark):
    from tsmp_spark.operators.dedup import source_contamination

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = [
        (1, base, "A"), (2, base + "tail", "B"),          # A-B near-dup
        (3, base + "x y", "B"), (4, "totally different words here " * 6, "A"),
        (5, base, "A"),                                   # A-A near-dup
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): r.dup_pairs
           for r in source_contamination(df, threshold=0.3).collect()}
    # pairs: (1,2)AB (1,3)AB (2,3)BB (1,5)AA (2,5)AB (3,5)AB -> AB=4, AA=1, BB=1
    assert got == {("A", "B"): 4, ("A", "A"): 1, ("B", "B"): 1}


def test_subsequence_search_finds_planted_match(spark, monkeypatch, tmp_path):
    """The search's kernel math on a controlled corpus: the planted
    copy of the query window ranks at distance 0 right behind the
    query's own position."""
    import numpy as np
    import pandas as pd
    from tsmp_spark.queries import q_subsequence_search, W, CONSENSUS_MIN
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    rng = np.random.default_rng(3)
    qdoc = rng.integers(0, 1000, CONSENSUS_MIN + 10).astype(np.int64)
    other = rng.integers(0, 1000, CONSENSUS_MIN + 30).astype(np.int64)
    other[12:12 + W] = qdoc[:W]  # exact planted copy of the query
    # write a documents.parquet whose tokenize output we bypass by
    # monkeypatching _tokenized
    df = spark.createDataFrame(
        [(1, [float(x) for x in qdoc], len(qdoc), "a"),
         (2, [float(x) for x in other], len(other), "b")],
        "doc_id long, tokens array<double>, n_tok long, source string",
    )
    import tsmp_spark.queries as Q
    monkeypatch.setattr(Q, "_tokenized", lambda sp, sf: df)
    out = sorted(q_subsequence_search(spark, "unused").collect(),
                 key=lambda r: r.rank)
    assert (out[0].doc_id, out[0].pos, out[0].dist_r) == (1, 0, 0.0)
    assert (out[1].doc_id, out[1].pos, out[1].dist_r) == (2, 12, 0.0)
    assert all(out[i].dist_r <= out[i + 1].dist_r for i in range(len(out) - 1))


def test_behavior_ngrams_census(spark):
    from tsmp_spark.operators.rollup import behavior_ngrams

    rows = [
        # user 1: a b c a b c  -> abc x2, bca, cab
        (1, 0, "a", 1), (1, 1, "b", 2), (1, 2, "c", 3),
        (1, 3, "a", 4), (1, 4, "b", 5), (1, 5, "c", 6),
        # user 2: a b c -> abc (never crosses users)
        (2, 0, "a", 7), (2, 1, "b", 8), (2, 2, "c", 9),
        # user 3: too short for a trigram
        (3, 0, "z", 10), (3, 1, "z", 11),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, sec long, event_type string, event_id long")
    got = {r.gram: (r.cnt, r.rank) for r in behavior_ngrams(
        df, n=3, top_k=10, key_col="user_id", ts_col="sec").collect()}
    assert got["a>b>c"] == (3, 1)
    assert got["b>c>a"] == (1, 2) and got["c>a>b"] == (1, 3)  # ties by gram
    assert "z" not in "".join(got)  # short streams contribute nothing


def test_interval_gaps_complement(spark):
    from tsmp_spark.operators.rollup import interval_gaps

    iv = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 12), (1, 20, 25), (1, 40, 41),
         (2, 0, 5), (2, 5, 9),   # touching -> one island, no gap
         (3, 7, 9)],             # single island, no gap
        "user_id long, start long, end long",
    )
    got = sorted(
        (r.user_id, r.gap_start, r.gap_end, r.duration)
        for r in interval_gaps(iv, key_col="user_id").collect()
    )
    assert got == [(1, 12, 20, 8), (1, 25, 40, 15)]


def test_minhash_cross_pairs_fuzzy_decontamination(spark):
    from tsmp_spark.operators.dedup import minhash_cross_pairs

    bench_text = ("the quick brown fox jumps over the lazy dog and then "
                  "runs far away into the deep green forest tonight") * 2
    edited = bench_text.replace("lazy", "sleepy")  # light edit
    train = spark.createDataFrame(
        [(1, edited), (2, "completely unrelated content about databases "
                          "and query planners " * 3)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = minhash_cross_pairs(train, bench, num_hashes=8, bands=4,
                              threshold=0.25).collect()
    assert [(r.doc_id, r.bench_id) for r in got] == [(1, 100)]
    assert 0.25 <= got[0].est_jaccard <= 1.0
    assert got[0].n_agree == round(got[0].est_jaccard * 8)
    # plan: benchmark side broadcast, corpus side no shuffle for candidates
    plan = minhash_cross_pairs(train, bench, num_hashes=8, bands=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ab_ztest_vs_scipy_free_reference(spark):
    import math
    from tsmp_spark.operators.rollup import ab_conversion_ztest

    # arm 0 (even ids): 100 users, 40 convert; arm 1: 100 users, 20
    rows = []
    for u in range(200):
        rows.append((u, 0, "view"))
        arm = u % 2
        idx = u // 2
        if (arm == 0 and idx < 40) or (arm == 1 and idx < 20):
            rows.append((u, 10, "purchase"))
    df = spark.createDataFrame(rows, "user_id long, sec long, event_type string")
    r = ab_conversion_ztest(df, bucket_sec=1000).collect()[0]
    assert (r.n0, r.c0, r.n1, r.c1) == (100, 40, 100, 20)
    p = 60 / 200
    z_ref = (0.4 - 0.2) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert abs(r.z - z_ref) < 1e-9
    assert r.significant == 1          # z ~ 3.09, z^2 ~ 9.5 > 3.84
    # balanced arms: not significant, z ~ 0
    df2 = spark.createDataFrame(
        [(u, 0, "view") for u in range(100)]
        + [(u, 10, "purchase") for u in range(100) if u // 2 < 15],
        "user_id long, sec long, event_type string",
    )
    r2 = ab_conversion_ztest(df2, bucket_sec=1000).collect()[0]
    assert r2.significant == 0
    # degenerate: nobody converts -> NULL z, flag 0
    df3 = spark.createDataFrame([(u, 0, "view") for u in range(10)],
                                "user_id long, sec long, event_type string")
    r3 = ab_conversion_ztest(df3, bucket_sec=1000).collect()[0]
    assert r3.z is None and r3.significant == 0


def test_retention_markov_burstiness_semantics(spark):
    from tsmp_spark.operators.rollup import (
        burstiness, markov_transitions, retention_curve,
    )

    # retention: 3 users with lifetimes 0, 2, 5 buckets
    ev = [(1, 0), (2, 0), (2, 2000), (3, 0), (3, 5000)]
    df = spark.createDataFrame(ev, "user_id long, sec long")
    got = {r.age: (r.surviving, r.n_users) for r in retention_curve(
        df, bucket_sec=1000, max_age=10, key_col="user_id",
        ts_col="sec").collect()}
    assert got[0] == (3, 3) and got[1] == (2, 3) and got[2] == (2, 3)
    assert got[3] == (1, 3) and got[5] == (1, 3) and 6 not in got
    # markov: a->b 2x, b->a 1x within one user; deterministic probs
    ev2 = [(1, 0, "a", 1), (1, 1, "b", 2), (1, 2, "a", 3), (1, 3, "b", 4)]
    df2 = spark.createDataFrame(
        ev2, "user_id long, sec long, event_type string, event_id long")
    mk = {(r.src, r.dst): (r.cnt, r.prob) for r in markov_transitions(
        df2, key_col="user_id", ts_col="sec").collect()}
    assert mk[("a", "b")] == (2, 1.0) and mk[("b", "a")] == (1, 1.0)
    # burstiness: perfectly periodic gaps -> B = -1; needs >= 3 events
    ev3 = [(1, i * 100, i) for i in range(10)] + [(2, 0, 90), (2, 5, 91)]
    df3 = spark.createDataFrame(ev3, "user_id long, sec long, event_id long")
    bs = {r.user_id: r for r in burstiness(
        df3, key_col="user_id", ts_col="sec").collect()}
    assert bs[1].burstiness == -1.0 and bs[1].n == 9
    assert 2 not in bs


def test_decayed_topk_exact_integer_decay(spark):
    import pytest as _pt
    from tsmp_spark.operators.rollup import decayed_topk

    # item A: burst of 8 at bucket 0; item B: steady 1 per bucket.
    # decayed(A, t) = 8 * 2^(15-t); decayed(B, t) = sum 2^(15-k), k<=t
    rows = [(0, "A")] * 8 + [(i * 100, "B") for i in range(6)]
    df = spark.createDataFrame(rows, "sec long, event_type string")
    got = {(r.bucket, r.item): (r.decayed_scaled, r.rank)
           for r in decayed_topk(df, bucket_sec=100, horizon=16,
                                 top_k=5).collect()}
    for t in range(6):
        a = 8 * (1 << (15 - t))
        b = sum(1 << (15 - k) for k in range(t + 1))
        assert got[(t, "A")][0] == a
        assert got[(t, "B")][0] == b
        # burst dominates until its decay crosses the steady stream
        assert (got[(t, "A")][1] == 1) == (a > b)
    with _pt.raises(NotImplementedError):
        decayed_topk(df, bucket_sec=100, half_life_buckets=2)


def test_active_users_rolling_distincts(spark):
    from tsmp_spark.operators.rollup import active_users

    # user 1 active days 0 and 10; user 2 active days 0..2; user 3 day 10
    rows = [(1, 0), (1, 10 * 100), (2, 0), (2, 100), (2, 200),
            (3, 10 * 100)]
    df = spark.createDataFrame(rows, "user_id long, sec long")
    got = {r.day: r for r in active_users(
        df, bucket_sec=100, key_col="user_id", ts_col="sec").collect()}
    assert set(got) == {0, 1, 2, 10}
    assert (got[0].dau, got[0].wau, got[0].mau) == (2, 2, 2)
    assert (got[1].dau, got[1].wau, got[1].mau) == (1, 2, 2)
    assert (got[2].dau, got[2].wau, got[2].mau) == (1, 2, 2)
    # day 10: users 1 and 3 active today; day 0-2 activity is outside
    # the 7-day window but inside the 30-day window
    assert (got[10].dau, got[10].wau, got[10].mau) == (2, 2, 3)
    assert got[10].stickiness == 2 / 3


def test_entropy_and_gini(spark):
    import math
    from tsmp_spark.operators.rollup import activity_gini, behavior_entropy

    # deterministic chain a->b always (H=0); b -> {a, c} 50/50 (H=1)
    rows = [(1, 0, "a", 1), (1, 1, "b", 2), (1, 2, "a", 3), (1, 3, "b", 4),
            (1, 4, "c", 5)]
    df = spark.createDataFrame(
        rows, "user_id long, sec long, event_type string, event_id long")
    ent = {r.src: r.entropy_bits for r in behavior_entropy(
        df, key_col="user_id", ts_col="sec").collect()}
    assert ent["a"] == 0.0 and ent["b"] == 1.0
    # gini: perfectly equal counts -> 0; extreme concentration -> ~1
    eq = spark.createDataFrame([(u,) for u in range(10) for _ in range(5)],
                               "user_id long")
    g0 = activity_gini(eq).collect()[0]
    assert g0.gini == 0.0 and g0.n_users == 10 and g0.total_events == 50
    skew = spark.createDataFrame(
        [(0,)] * 991 + [(u,) for u in range(1, 10)], "user_id long")
    g1 = activity_gini(skew).collect()[0]
    assert g1.gini > 0.85
    # independent python model
    xs = sorted([991] + [1] * 9)
    n, s = len(xs), sum(xs)
    ref = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs)) / (n * s)
    assert abs(g1.gini - ref) < 1e-12


def test_mpdist_cluster_separates_planted_families(spark, monkeypatch):
    """Two shape families of token series: the 2-medoid assignment
    recovers them (each doc lands with its family's medoid)."""
    import numpy as np
    import tsmp_spark.queries as Q

    rng = np.random.default_rng(11)
    n = Q.CONSENSUS_MIN + 14
    t = np.arange(n, dtype=np.float64)
    fam_a = lambda: 100 + 30 * np.sin(t / 3.0) + rng.normal(0, 0.5, n)
    fam_b = lambda: 100 + 20 * ((-1.0) ** t) + rng.normal(0, 0.5, n)
    docs = {1: fam_a(), 2: fam_a(), 3: fam_a(),
            4: fam_b(), 5: fam_b(), 6: fam_b()}
    df = spark.createDataFrame(
        [(d, [float(x) for x in v], n, "s") for d, v in docs.items()],
        "doc_id long, tokens array<double>, n_tok long, source string",
    )
    monkeypatch.setattr(Q, "_tokenized", lambda sp, sf: df)
    out = {r.doc_id: r for r in Q.q_mpdist_cluster(spark, "unused").collect()}
    assert len(out) == 6
    med_a = {out[d].medoid for d in (1, 2, 3)}
    med_b = {out[d].medoid for d in (4, 5, 6)}
    assert len(med_a) == 1 and len(med_b) == 1 and med_a != med_b
    assert out[next(iter(med_a))].mpdist_r == 0.0  # medoid assigns itself


def test_hll_overlap_estimate_and_raw_branch_parity(spark):
    """Inclusion–exclusion overlap estimates, plus the regression pin
    for the decimal-literal alpha bug: the RAW-branch batch estimate
    must equal the streaming op's Python-float arithmetic exactly."""
    import numpy as np
    from tsmp_spark.operators.sketch import hll_overlap_estimate, hll_rollup
    from tsmp_spark.streaming.sketch import _estimate

    a = spark.createDataFrame([(i,) for i in range(4000)], "k long")
    b = spark.createDataFrame([(i,) for i in range(2000, 6000)], "k long")
    r = hll_overlap_estimate(a, b, "k", "k").collect()[0]
    # 3-sigma HLL accuracy on each piece (se ~ 4.6%)
    assert abs(r.est_left / 4000 - 1) < 0.15
    assert abs(r.est_right / 4000 - 1) < 0.15
    assert abs(r.est_union / 6000 - 1) < 0.15
    assert abs(r.est_intersection / 2000 - 1) < 0.35  # differences amplify
    # raw-branch parity with the streaming estimate (same registers)
    big = spark.createDataFrame([(i, 0) for i in range(4000)],
                                "user_id long, sec long")
    batch = hll_rollup(big, bucket_sec=1000).collect()[0]
    from tsmp_spark.operators.sketch import HLL_M, HLL_REST_BITS, hll_register_rows
    import pyspark.sql.functions as FF
    regs_rows = (hll_register_rows(big, 1000, "user_id", "sec")
                 .groupBy("idx").agg(FF.max("rho").alias("reg")).collect())
    regs = np.zeros(HLL_M, dtype=np.uint8)
    for row in regs_rows:
        regs[row.idx] = row.reg
    zeros, z_int, est = _estimate(regs)
    assert (batch.zeros, batch.z_int, batch.est) == (zeros, z_int, est)


def test_behavior_ngrams_null_event_type(spark):
    """Regression (review finding): a NULL event type mid-sequence must
    NOT produce a malformed shorter gram (concat_ws skips NULLs)."""
    from tsmp_spark.operators.rollup import behavior_ngrams

    rows = [(1, 0, "a", 1), (1, 1, None, 2), (1, 2, "c", 3),
            (1, 3, "d", 4), (1, 4, "e", 5)]
    df = spark.createDataFrame(
        rows, "user_id long, sec long, event_type string, event_id long")
    got = {r.gram for r in behavior_ngrams(
        df, n=3, top_k=10, key_col="user_id", ts_col="sec").collect()}
    assert got == {"c>d>e"}          # no "a>c" phantom trigram


def test_kmv_distinct_exact_merge_and_accuracy(spark):
    """KMV bottom-k sketch contracts: (1) below-k buckets report the
    EXACT distinct count; (2) merge==recompute for EVERY output column
    (the k smallest of a coarse bucket are among the k smallest of its
    fine buckets); (3) a saturated sketch estimates within the
    theoretical error band; (4) non-nesting grids are loud."""
    from tsmp_spark.operators.sketch import (
        KMV_K, kmv_distinct, kmv_rerollup)

    # (1) exact below k: 40 distinct users per bucket < k=64
    small = spark.createDataFrame(
        [(i % 40, b * 1000 + i) for b in range(3) for i in range(200)],
        "user_id long, sec long")
    for r in kmv_distinct(small, bucket_sec=1000).collect():
        assert r.n_kept == 40 and r.est == 40.0 and r.h_k == 4294967296

    # (2)+(3) saturated: 2000 distinct per fine bucket
    big = spark.createDataFrame(
        [(b * 10000 + i, b * 1000 + (i % 1000)) for b in range(4)
         for i in range(2000)],
        "user_id long, sec long")
    a = sorted(map(tuple, kmv_rerollup(big, 1000, 4000).collect()))
    b = sorted(map(tuple, kmv_distinct(big, 4000).collect()))
    assert a == b
    est = kmv_distinct(big, 4000).collect()[0].est
    assert abs(est / 8000 - 1) < 0.5   # k=64 -> se ~13%, 4 sigma band
    import pytest as _pt
    with _pt.raises(ValueError):
        kmv_rerollup(big, 1000, 4500)


def test_kmv_overlap_exact_and_disjoint(spark):
    """Theta-sketch set ops: when both sides hold < k distinct items the
    intersection estimate IS the exact intersection; disjoint saturated
    sides estimate ~0 intersection and jaccard ~0."""
    from tsmp_spark.operators.sketch import kmv_overlap

    left = spark.createDataFrame([(f"u{i}",) for i in range(50)], "u string")
    right = spark.createDataFrame([(f"u{i}",) for i in range(30, 80)], "u string")
    r = kmv_overlap(left, right, "u", "u").collect()[0]
    assert (r.n_a, r.n_b) == (50, 50)
    assert r.est_a == 50.0 and r.est_b == 50.0
    assert r.est_intersection == 20.0 and r.est_union == 80.0
    assert abs(r.jaccard_est - 0.25) < 1e-12

    dl = spark.createDataFrame([(f"a{i}",) for i in range(500)], "u string")
    dr = spark.createDataFrame([(f"b{i}",) for i in range(500)], "u string")
    d = kmv_overlap(dl, dr, "u", "u").collect()[0]
    assert d.est_intersection <= d.est_union * 0.1


def test_mg_summary_bounds_and_merge(spark):
    """Misra–Gries summary contracts on a constructed corpus: (1) at
    most k rows per bucket; (2) one-sided bound
    true - n/(k+1) <= est <= true for every surviving item; (3) every
    item heavier than n/(k+1) IS in the summary; (4) an all-unique
    bucket (> k items, every count 1) legitimately materialises ZERO
    rows, yet the tier merge still carries its mass in the exact coarse
    n (the metadata-vs-surviving-rows regression); (5) the merged
    summary keeps the same one-sided bound over the COARSE total."""
    from tsmp_spark.operators.sketch import mg_rerollup, mg_summary

    def ev(bucket, item, cnt):
        return [(item, bucket * 100 + (i % 100)) for i in range(cnt)]

    rows = (
        ev(0, 1, 50) + ev(0, 2, 30) + ev(0, 3, 10)
        + [(100 + i, 0 * 100 + i) for i in range(20)]      # 20 singletons
        + [(200 + i, 1 * 100 + i) for i in range(20)]      # all-unique bucket
        + ev(2, 1, 40) + ev(2, 4, 35) + ev(2, 5, 20) + ev(2, 6, 5)
        + ev(3, 7, 9) + ev(3, 8, 6) + ev(3, 9, 3)
    )
    df = spark.createDataFrame(rows, "user_id long, sec long")
    k = 3

    true_fine = {}
    for item, sec in rows:
        true_fine[(sec // 100, item)] = true_fine.get((sec // 100, item), 0) + 1

    fine = mg_summary(df, bucket_sec=100, k=k).collect()
    by_bucket = {}
    for r in fine:
        by_bucket.setdefault(r.bucket, []).append(r)
        t = true_fine[(r.bucket, r.item)]
        assert t - r.n / (k + 1) <= r.est <= t          # (2)
    assert all(len(v) <= k for v in by_bucket.values())  # (1)
    assert 1 not in by_bucket                            # (4a) empty summary
    n_per_bucket = {0: 110, 2: 100, 3: 18}
    for b, rs in by_bucket.items():
        assert {r.n for r in rs} == {n_per_bucket[b]}
        heavy = {i for (bb, i), t in true_fine.items()
                 if bb == b and t > n_per_bucket[b] / (k + 1)}
        assert heavy <= {r.item for r in rs}             # (3)
    # bucket 3 has exactly k distinct items -> theta 0, exact counts
    assert {(r.item, r.est, r.theta) for r in by_bucket[3]} == {
        (7, 9, 0), (8, 6, 0), (9, 3, 0)}

    merged = mg_rerollup(df, fine_sec=100, coarse_sec=400, k=k).collect()
    assert len(merged) <= k
    n_coarse = 110 + 20 + 100 + 18
    true_coarse = {}
    for (b, item), t in true_fine.items():
        true_coarse[item] = true_coarse.get(item, 0) + t
    got = {r.item: r for r in merged}
    assert {r.n for r in merged} == {n_coarse}           # (4b) exact n kept
    for item, r in got.items():
        t = true_coarse[item]
        assert t - n_coarse / (k + 1) <= r.est <= t      # (5)
    heavy = {i for i, t in true_coarse.items() if t > n_coarse / (k + 1)}
    assert heavy <= set(got)                             # (3) after merge
    assert got[1].est == 69 and got[4].est == 15 and got[2].est == 14

    import pytest as _pt
    with _pt.raises(ValueError):
        mg_rerollup(df, fine_sec=100, coarse_sec=450, k=k)


def test_ohlc_merge_identity_and_ties(spark):
    """OHLC candles: (1) open/close picked by the TOTAL (ts, event_id)
    order — duplicate timestamps resolve by id, pinned; (2) volume is
    the exact centi-unit integer sum; (3) tier merge == direct coarse
    recompute BIT-exact on every column (the ordering metadata makes
    the candle a true mergeable aggregate)."""
    from tsmp_spark.operators.rollup import ohlc, ohlc_rerollup

    rows = [
        # bucket 0 of 'a': tie at t=10 -> open is id 1 (1.5), close id 2
        (1, 10, "a", 1.5), (2, 10, "a", 2.5), (0, 12, "a", -9.0),
        # bucket 1 of 'a'
        (3, 25, "a", 7.25), (4, 39, "a", 0.01),
        # 'b' single row
        (5, 5, "b", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, sec long, event_type string, value double")
    got = {(r.key, r.bucket): r for r in ohlc(ev, bucket=20).collect()}
    a0 = got[("a", 0)]
    assert (a0.open, a0.high, a0.low, a0.close) == (1.5, 2.5, -9.0, -9.0)
    assert a0.vol_centi == 150 + 250 - 900 and a0.n == 3
    assert (a0.first_ts, a0.first_id, a0.last_ts, a0.last_id) == (10, 1, 12, 0)
    a1 = got[("a", 1)]
    assert (a1.open, a1.close, a1.vol_centi) == (7.25, 0.01, 726)

    merged = sorted(map(tuple, ohlc_rerollup(ev, 20, 40).collect()))
    direct = sorted(map(tuple, ohlc(ev, bucket=40).collect()))
    assert merged == direct
    import pytest as _pt
    with _pt.raises(ValueError):
        ohlc_rerollup(ev, 20, 50)


def test_state_agg_splitting_and_merge_identity(spark):
    """Time-in-state: (1) a run spanning several buckets is split
    exactly (integer seconds sum to the run length); (2) duplicate-
    timestamp changes produce zero-length runs (dropped); (3) the final
    event of a key carries no duration; (4) tier merge == direct coarse
    recompute BIT-exact."""
    from tsmp_spark.operators.rollup import state_agg, state_rerollup

    rows = [
        (0, 0, "a", 7), (1, 15, "b", 7), (2, 45, "a", 7),
        # key 8: duplicate ts at 10 (ids 3,4) then a change at 30
        (3, 10, "x", 8), (4, 10, "y", 8), (5, 30, "x", 8),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, sec long, event_type string, user_id long")
    got = {(r.key, r.bucket, r.state): r.dur_sec
           for r in state_agg(ev, bucket=20).collect()}
    assert got == {
        (7, 0, "a"): 15, (7, 0, "b"): 5, (7, 1, "b"): 20, (7, 2, "b"): 5,
        (8, 0, "y"): 10, (8, 1, "y"): 10,   # x@10 is zero-length (tie)
    }
    total_7 = sum(v for (k, _, _), v in got.items() if k == 7)
    assert total_7 == 45   # full observed span of key 7

    merged = sorted(map(tuple, state_rerollup(ev, 20, 40).collect()))
    direct = sorted(map(tuple, state_agg(ev, bucket=40).collect()))
    assert merged == direct
    import pytest as _pt
    with _pt.raises(ValueError):
        state_rerollup(ev, 20, 50)


def test_heartbeat_uptime_semantics(spark):
    """Heartbeat liveness: (1) overlapping heartbeats coalesce (no
    double-count); (2) exact-touch assertions merge into one island;
    (3) an island spanning a bucket boundary splits exactly; (4)
    uptime_sec never exceeds the bucket length; (5) duplicate
    heartbeats at one second are idempotent."""
    from tsmp_spark.operators.rollup import heartbeat_uptime

    rows = [
        (7, 0), (7, 5), (7, 10),      # overlap: live [0, 20)
        (7, 20),                      # exact touch -> same island [0, 30)
        (7, 100), (7, 100),           # duplicate second: live [100, 110)
        (8, 35),                      # spans buckets 0/1: [35, 45)
    ]
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    got = {(r.key, r.bucket): r
           for r in heartbeat_uptime(ev, ttl_sec=10, bucket=40).collect()}
    assert got[(7, 0)].uptime_sec == 30 and got[(7, 0)].n_islands == 1
    assert got[(7, 2)].uptime_sec == 10 and got[(7, 2)].n_islands == 1
    assert got[(8, 0)].uptime_sec == 5
    assert got[(8, 1)].uptime_sec == 5
    assert all(r.uptime_sec <= 40 for r in got.values())
    assert (7, 1) not in got          # fully-dark bucket emits nothing


def test_rollup_freshness_gaps_and_lag(spark):
    """Freshness monitor: per-key expected/present/missing over the span
    [first key bucket, global max], staleness lag, completeness."""
    from tsmp_spark.operators.rollup import rollup_freshness

    rows = ([("a", b * 100) for b in (0, 1, 3)]        # gap at 2, stale by 2
            + [("b", b * 100) for b in (2, 3, 4, 5)])  # complete, fresh
    df = spark.createDataFrame(rows, "event_type string, sec long")
    got = {r.event_type: r for r in rollup_freshness(
        df, bucket_sec=100).collect()}
    a, b = got["a"], got["b"]
    assert (a.present, a.expected, a.missing, a.lag_buckets) == (3, 6, 3, 2)
    assert abs(a.completeness - 0.5) < 1e-12
    assert (b.present, b.expected, b.missing, b.lag_buckets) == (4, 4, 0, 0)
    assert b.completeness == 1.0


def test_rrf_hybrid_topk_fusion(spark):
    """RRF fusion contracts: a doc ranked #1 by BOTH legs tops the fused
    list; rrf equals 1/(60+r_bm25)+1/(60+r_cos) with a missing leg
    contributing 0; ranks are dense 1..k per query."""
    from tsmp_spark.operators.text import rrf_hybrid_topk

    docs = spark.createDataFrame(
        [(1, "apple banana cherry apple"),
         (2, "apple apple apple apple banana"),
         (3, "dog cat mouse"),
         (4, "banana cherry date elderberry fig")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(7, "apple banana")],
                               "query_id long, query_text string")
    rows = rrf_hybrid_topk(docs, qs, k=4, k_leg=4).collect()
    assert [r.rank for r in rows] == sorted(r.rank for r in rows)
    byrank = {r.rank: r for r in rows}
    for r in rows:
        want = 0.0
        if r.rank_bm25 is not None:
            want += 1.0 / (60 + r.rank_bm25)
        if r.rank_cos is not None:
            want += 1.0 / (60 + r.rank_cos)
        assert abs(r.rrf - want) < 1e-15
    # doc 3 shares no term with the query: if present at all it must
    # rank below every doc that matched a leg
    matched = [r for r in rows if r.rank_bm25 is not None or r.rank_cos is not None]
    assert all(byrank[1].rrf >= r.rrf for r in rows)
    assert len(matched) >= 3


def test_rollup_moments_exact_merge_and_degenerate(spark):
    """Moments sketch contracts: (1) merge==recompute EXACT for every
    column (decimal power sums are associative); (2) constant buckets
    emit NULL skew/kurtosis (clamped + NULLIF'd, never NaN/crash);
    (3) values match numpy population moments; (4) negative values
    round away-from-zero identically; (5) non-nesting grids are loud."""
    import numpy as np
    from tsmp_spark.operators.rollup import moments_rerollup, rollup_moments

    vals = [1.25, -3.5, 7.07, 0.01, -0.06, 12.5, 3.33, -8.88]
    rows = [("a", i * 400, v) for i, v in enumerate(vals)]
    rows += [("c", i * 400, 5.0) for i in range(6)]          # constant
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")

    direct = {(r.event_type, r.bucket): r
              for r in rollup_moments(df, 86400).collect()}
    merged = {(r.event_type, r.bucket): r
              for r in moments_rerollup(df, 400, 86400).collect()}
    assert set(direct) == set(merged)
    for k in direct:
        assert tuple(direct[k]) == tuple(merged[k])          # bit-exact

    a = direct[("a", 0)]
    cu = np.round(np.array(vals) * 100)                      # engine grid
    x = cu / 100.0
    assert a.n == 8
    assert abs(a.mean_v - x.mean() / 1.0) < 1e-9
    assert abs(a.var_v - x.var()) < 1e-6
    m2, m3, m4 = (np.mean((x - x.mean()) ** k) for k in (2, 3, 4))
    assert abs(a.skewness - m3 / m2 ** 1.5) < 1e-6
    assert abs(a.kurtosis_ex - (m4 / m2 ** 2 - 3)) < 1e-6

    c = direct[("c", 0)]
    assert c.var_v == 0.0 and c.skewness is None and c.kurtosis_ex is None

    import pytest as _pt
    with _pt.raises(ValueError):
        moments_rerollup(df, 400, 1000)


def test_hdr_sketch_contracts(spark):
    """HDR exponential-histogram contracts: (1) tier merge==recompute
    bit-exact for every column (integer counts add associatively);
    (2) quantile estimates land within the bucket's relative-error
    bound of the exact nearest-rank percentile on a heavy-tailed
    sample; (3) small values (< 0.32) are EXACT to the centi-unit;
    (4) sign handling — negative/zero/positive values order correctly
    through the signed index; (5) non-nesting grids are loud."""
    import numpy as np
    import pytest as _pt
    from tsmp_spark.operators.sketch import (
        hdr_quantiles,
        hdr_rerollup,
        hdr_rollup,
    )

    rng = np.random.default_rng(7)
    vals = np.round(np.exp(rng.normal(3.0, 2.0, 4000)) + 0.01, 2)
    rows = [("a", int(i * 17) % 86400, float(v)) for i, v in enumerate(vals)]
    rows += [("b", i * 400, v) for i, v in enumerate(
        [-6.79, -0.02, 0.0, 0.0, 0.01, 0.05, 0.31, 1.0, 490.02])]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")

    direct = {(r.key, r.bucket, r.idx): r for r in hdr_rollup(df, 86400).collect()}
    merged = {(r.key, r.bucket, r.idx): r
              for r in hdr_rerollup(df, 400, 86400).collect()}
    assert set(direct) == set(merged) and len(direct) > 0
    for k in direct:
        assert tuple(direct[k]) == tuple(merged[k])          # bit-exact

    q = {r.key: r for r in hdr_quantiles(df, 86400).collect()}
    a = q["a"]
    assert a.n == 4000
    grid = np.round(vals * 100) / 100.0                      # engine grid
    for est, qq in ((a.p50_est, 0.5), (a.p90_est, 0.9), (a.p99_est, 0.99)):
        exact = float(np.sort(grid)[int(np.ceil(qq * 4000)) - 1])
        assert abs(est - exact) / exact < 1 / 16             # bucket bound

    b = q["b"]                                               # n=9 ranks 5/9/9
    assert b.p50_est == 0.01                                 # exact small value
    assert abs(b.p90_est - 490.02) / 490.02 < 1 / 16
    assert b.p99_est == b.p90_est

    bidx = sorted((r.idx, r.est_v) for r in direct.values() if r[0] == "b")
    ests = [e for _, e in bidx]
    assert ests == sorted(ests)                              # idx orders values
    assert ests[0] < 0 and 0.0 in ests                       # neg + zero buckets

    with _pt.raises(ValueError):
        hdr_rerollup(df, 400, 1000)


def test_asap_smooth_model_and_edges(spark):
    """ASAP contracts: (1) the engine's chosen window and smoothed
    values match a doc-by-doc numpy replay of the exact-integer
    pipeline (whole-unit bucket sums, dense spine, roughness argmin
    under the kurtosis constraint); (2) pure noise smooths hard while a
    constant series degenerates to w=1 with NULL-roughness ordering;
    (3) a single-bucket key falls back to w=1 and echoes its value."""
    import numpy as np
    from tsmp_spark.operators.rollup import ASAP_WINDOWS, asap_smooth

    rng = np.random.default_rng(11)
    vals = np.round(50 + rng.uniform(-20, 20, 300), 2)
    rows = [("n", i * 3600, float(v)) for i, v in enumerate(vals)]
    rows += [("c", i * 3600, 5.0) for i in range(40)]
    rows += [("one", 0, 123.45)]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    got = asap_smooth(df, 3600).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r.key, []).append(r)

    # numpy replay for key "n" (dense grid == input grid here)
    s = (np.round(vals * 100).astype(np.int64)).astype(object)
    s = np.array([int(x) - int(x) % 100 for x in s], dtype=object)
    s = np.array([x // 100 for x in s], dtype=object)
    best = None
    kurt1 = None
    for w in ASAP_WINDOWS:
        m = np.array([sum(s[i - w + 1 : i + 1]) for i in range(w - 1, len(s))],
                     dtype=object)
        d = m[1:] - m[:-1]
        nd, sd1, sd2 = len(d), int(sum(d)), int(sum(x * x for x in d))
        sm = int(sum(m))
        tm = (abs(sm) % len(m)) * (1 if sm >= 0 else -1)  # engine trunc-mod
        q = (sm - tm) // len(m)            # exact multiple: // == trunc div
        dm = m - q
        c2 = int(sum(x * x for x in dm))
        c4 = int(sum((x * x) * (x * x) for x in dm))
        r = (nd * sd2 - sd1 * sd1) / (nd * nd * w * w) if nd else None
        kurt = len(m) * c4 / (c2 * c2) if c2 else None
        if w == 1:
            kurt1 = kurt
        ok = True if (kurt is None or kurt1 is None) else kurt >= kurt1
        if ok and (best is None or (r is not None and r < best[0])):
            if r is not None or best is None:
                best = (r if r is not None else float("inf"), w, m)
    r_, w_star, m_star = best
    eng = sorted(by_key["n"], key=lambda r: r.bucket)
    assert eng[0].w == w_star
    assert len(eng) == len(m_star)
    for row, ms in zip(eng, m_star):
        assert row.smoothed == float(ms) / w_star

    assert by_key["c"][0].w == 1 and len(by_key["c"]) == 40
    assert all(r.smoothed == 5.0 for r in by_key["c"])
    one = by_key["one"]
    assert len(one) == 1 and one[0].w == 1 and one[0].smoothed == 123.0


def test_dtw_banded_kernel_exactness():
    """Vectorized anti-diagonal DTW == scalar row-major DP, exact ints."""
    from tsmp_spark.mpcore.dtw import dtw_banded, dtw_banded_ref

    rng = np.random.default_rng(41)
    for _ in range(40):
        t = int(rng.integers(2, 24))
        r = int(rng.integers(1, 9))
        a = rng.integers(0, 32768, t)
        b = rng.integers(0, 32768, t)
        assert dtw_banded(a, b, r) == dtw_banded_ref(a, b, r)
    # identity: zero distance to itself, symmetric
    a = rng.integers(0, 32768, 32)
    assert dtw_banded(a, a, 4) == 0
    b = rng.integers(0, 32768, 32)
    assert dtw_banded(a, b, 4) == dtw_banded(b, a, 4)
    # empty series
    assert dtw_banded(np.array([], dtype=np.int64), np.array([], dtype=np.int64), 3) == 0


def test_dtw_pairs_operator(spark):
    """Spark dtw_pairs == local kernel on the same truncated doc set;
    k-bound and qualification filter respected."""
    from tsmp_spark.mpcore.dtw import dtw_banded
    from tsmp_spark.operators import dtw_pairs

    rng = np.random.default_rng(42)
    docs = []
    toks = {}
    for i in range(8):
        n = 12 if i == 5 else 40  # doc 5 too short to qualify
        arr = rng.integers(0, 32768, n).tolist()
        toks[i] = arr
        docs.append((str(i), [int(x) for x in arr], n, "s"))
    nested = spark.createDataFrame(
        docs, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    out = dtw_pairs(nested, trunc=24, band=5, k_docs=4).collect()
    # doc 5 short -> qualifying smallest four are 0,1,2,3
    ids = sorted({r["ida"] for r in out} | {r["idb"] for r in out})
    assert ids == [0, 1, 2, 3]
    assert len(out) == 6
    for r in out:
        want = dtw_banded(
            np.asarray(toks[r["ida"]][:24]), np.asarray(toks[r["idb"]][:24]), 5
        )
        assert r["dtw"] == want


def test_ams_f2_sketch_contracts(spark):
    """AMS tug-of-war: merge == recompute EXACT identity (linearity),
    estimate lands in a sane band around the exact F2, and the dyadic
    /16 is exact."""
    from tsmp_spark.operators import ams_f2, ams_rerollup

    rows = []
    # two fine (6h) buckets inside one day: skewed multiset per bucket
    for b, base in ((0, 0), (1, 21600)):
        for u in range(40):
            reps = 16 if u == 0 else (4 if u < 5 else 1)
            for r in range(reps):
                rows.append((int(u), base + 60 * u + r))
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    fine = ams_f2(ev, bucket_sec=21600).collect()
    assert len(fine) == 2
    for row in fine:
        # exact F2 per bucket: 16^2 + 4*4^2 + 35*1 = 355
        assert row["f2_exact"] == 355
        assert row["est"] == row["est_x16"] / 16.0
        # deterministic sketch; 3-sigma-ish sanity band around truth
        assert 0.2 * 355 <= row["est"] <= 2.8 * 355

    merged = ams_rerollup(ev, fine_sec=21600, coarse_sec=86400).collect()
    assert len(merged) == 1
    # linearity: merged counters == whole-day recompute, exactly
    direct = ams_f2(ev, bucket_sec=86400).collect()[0]
    assert merged[0]["est_x16"] == direct["est_x16"]
    assert merged[0]["n"] == direct["n"] == sum(r["n"] for r in fine)


def test_sdt_compress_semantics(spark):
    """Swinging-door trimming: ramps collapse to endpoints, plateaus to
    endpoints, a spike forces a stored point, duplicate timestamps keep
    the latest id, reconstruction error bounded by the deviation."""
    from tsmp_spark.operators import sdt_compress

    rows = []
    # series A: exact ramp, 30 points — only endpoints survive
    for i in range(30):
        rows.append((i, "A", float(10 + 3 * i), 100 + 60 * i))
    # series B: plateau then step: plateau ends stored, step stored
    for i in range(20):
        v = 50.0 if i < 10 else 200.0
        rows.append((1000 + i, "B", v, 100 + 60 * i))
    # series C: duplicate timestamp — later event_id (value 7) wins
    rows.append((2000, "C", 999.0, 100))
    rows.append((2001, "C", 7.0, 100))
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, sec long"
    )
    out = sdt_compress(ev, bucket=86400, dev_centi=200).collect()
    a = sorted((r["t"], r["v_centi"]) for r in out if r["key"] == "A")
    assert a == [(100, 1000), (100 + 60 * 29, (10 + 3 * 29) * 100)]
    b = sorted(r["t"] for r in out if r["key"] == "B")
    # plateau stores first point; step break stores the last plateau
    # point; last point always stored
    assert b[0] == 100 and b[-1] == 100 + 60 * 19
    assert 100 + 60 * 9 in b and len(b) <= 4
    c = [(r["t"], r["v_centi"]) for r in out if r["key"] == "C"]
    assert c == [(100, 700)]

    # error bound: reconstruct by linear interpolation between kept
    # points; every dropped point within dev of the line
    import numpy as np

    rng = np.random.default_rng(5)
    walk = np.cumsum(rng.integers(-100, 101, 200)) / 100.0 + 50
    ev2 = spark.createDataFrame(
        [(i, "W", float(walk[i]), 60 * i) for i in range(200)],
        "event_id long, event_type string, value double, sec long",
    )
    kept = sorted(
        (r["t"], r["v_centi"])
        for r in sdt_compress(ev2, bucket=10**9, dev_centi=150).collect()
    )
    assert len(kept) < 200  # actually compresses a random walk
    kt = np.array([t for t, _ in kept])
    kv = np.array([v for _, v in kept])
    for i in range(200):
        t, v = 60 * i, round(float(walk[i]) * 100)
        j = np.searchsorted(kt, t)
        if j < len(kt) and kt[j] == t:
            continue
        lo, hi = j - 1, j
        line = kv[lo] + (kv[hi] - kv[lo]) * (t - kt[lo]) / (kt[hi] - kt[lo])
        # store-actual-samples SDT: the envelope proves a feasible line
        # within ±dev EXISTS, but the kept-point segment itself is only
        # guaranteed within 2·dev (the documented bound of the
        # integer-exact variant; see rollup.sdt_compress docstring)
        assert abs(v - line) <= 2 * 150 + 1


def test_kaplan_meier_product_limit(spark):
    """KM with censoring: hand-computed small example, exact integer
    product-limit replay, censored users at risk but never events."""
    from tsmp_spark.operators import kaplan_meier

    # grain 1s for hand control; churn if last event >= 10s before end.
    # users: lifetimes 2,2,5 churned; lifetime 4 censored (active at end)
    rows = []
    rows += [(1, 0), (1, 2)]        # u1: d=2, last=2, churned
    rows += [(2, 10), (2, 12)]      # u2: d=2, churned
    rows += [(3, 0), (3, 5)]        # u3: d=5, churned
    rows += [(4, 96), (4, 100)]     # u4: d=4, last=100=end -> censored
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    out = {
        r["t_age"]: r
        for r in kaplan_meier(ev, grain_sec=1, churn_sec=10).collect()
    }
    # event times: t=2 (2 events, 4 at risk), t=5 (1 event, 1 at risk:
    # u4 censored at 4 has left the risk set by t=5)
    assert set(out) == {2, 5}
    assert out[2]["n_risk"] == 4 and out[2]["n_event"] == 2
    assert out[5]["n_risk"] == 1 and out[5]["n_event"] == 1
    # s(2) = 1e9*2//4 = 5e8; s(5) = 5e8*0//1 = 0
    assert out[2]["surv_x1e9"] == 500_000_000
    assert out[5]["surv_x1e9"] == 0
    assert out[2]["survival"] == 0.5


def test_rfm_segments_semantics(spark):
    """RFM: quintile direction (5 = best), cent exactness, ntile
    distribution on a hand-built 10-customer book."""
    from tsmp_spark.operators import rfm_segments

    rows = []
    # customer i: i orders, each 10.005*i value, last order at day i
    for c in range(1, 11):
        for k in range(c):
            rows.append((c, 86400 * c, 10.0 * c))
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate long, o_totalprice double"
    )
    out = {r["custkey"]: r for r in rfm_segments(orders).collect()}
    assert len(out) == 10
    # customer 10: most recent (recency 0), most frequent, biggest spend
    assert out[10]["recency_days"] == 0
    assert out[10]["frequency"] == 10
    assert out[10]["monetary_cents"] == 10 * 1000 * 10
    assert out[10]["r"] == 5 and out[10]["f"] == 5 and out[10]["m"] == 5
    assert out[10]["rfm_code"] == 555
    # customer 1: oldest, least frequent, least spend
    assert out[1]["r"] == 1 and out[1]["f"] == 1 and out[1]["m"] == 1
    # ntile(5) over 10 rows = exactly 2 per bucket
    from collections import Counter

    assert Counter(r["f"] for r in out.values()) == {q: 2 for q in range(1, 6)}


def test_concurrency_peak_sweep(spark):
    """±1 sweep: overlap counting, half-open touch (end == start does
    NOT overlap), same-timestamp start tie determinism."""
    from tsmp_spark.operators import concurrency_peak

    iv = spark.createDataFrame(
        [
            # three overlapping: [0,10), [5,15), [8,20) -> peak 3 at t=8
            ("a", 0, 10, 1), ("a", 5, 15, 2), ("a", 8, 20, 3),
            # half-open touch: [30,40) then [40,50) -> never concurrent
            ("a", 30, 40, 4), ("a", 40, 50, 5),
            # b: two starts at the SAME t -> peak 2
            ("b", 0, 10, 6), ("b", 0, 10, 7),
        ],
        "key string, start long, end long, iid long",
    )
    out = concurrency_peak(iv, bucket_sec=1000).collect()
    peaks = {(r["key"], r["bucket"]): r["peak"] for r in out}
    assert peaks[("a", 0)] == 3
    assert peaks[("b", 0)] == 2
    # verify the touch case never reaches 2: max conc among changes in
    # [30,50] is 1 (the -1 at t=40 sorts before the +1 at t=40)
    from tsmp_spark.operators import concurrency_peak as cp

    only_touch = spark.createDataFrame(
        [("c", 30, 40, 1), ("c", 40, 50, 2)],
        "key string, start long, end long, iid long",
    )
    got = {r["bucket"]: r["peak"] for r in cp(only_touch, 1000).collect()}
    assert got[0] == 1


def test_pagerank_integer_recurrence(spark):
    """PageRank: hand-replayed 1-iteration values on a 3-node cycle,
    star-center dominance, mass ≈ conserved (floor loss only)."""
    from tsmp_spark.operators import pagerank

    # directed 3-cycle, unit weights: symmetric structure keeps ranks equal
    cyc = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    out = {r["node"]: r["pr_x1e9"] for r in pagerank(cyc, iters=1).collect()}
    # r0 = 1e9//3 = 333333333; contrib = (85*333333333*1)//(100*1)
    # = 283333333; tele = (1e9*15//100)//3 = 50000000
    assert out == {k: 50_000_000 + 283_333_333 for k in "abc"}

    # star (undirected): center out-degree 4, leaves 1 — center dominates
    pairs = [("hub", f"l{i}", 1) for i in range(4)]
    edges = pairs + [(b, a, w) for a, b, w in pairs]
    star = spark.createDataFrame(edges, "src string, dst string, w long")
    pr = {r["node"]: r["pr_x1e9"] for r in pagerank(star, iters=3).collect()}
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")
    # mass conservation up to floor leakage: <= 1 unit per edge per iter
    total = sum(pr.values())
    assert 10**9 - 8 * 3 - 5 * 3 <= total <= 10**9


def test_zonemap_stats_pruning(spark):
    """Zone-map audit: clustered granules are skippable, mixed granules
    are kept with a measurable false-keep cost."""
    from tsmp_spark.operators import zonemap_stats

    rows = []
    # granule 0 (ids 0..511): all values below the range -> skippable
    for i in range(512):
        rows.append((i, 50.0))
    # granule 1: straddles the range -> kept, some matches
    for i in range(512, 1024):
        rows.append((i, 150.0 if i % 4 == 0 else 300.0))
    ev = spark.createDataFrame(rows, "event_id long, value double")
    out = {r["granule"]: r for r in zonemap_stats(
        ev, granule_rows=512, lo_centi=10000, hi_centi=20000).collect()}
    assert out[0]["skippable"] == 1 and out[0]["n_match"] == 0
    assert out[1]["skippable"] == 0 and out[1]["n_match"] == 128
    assert out[1]["n_rows"] - out[1]["n_match"] == 384  # false-keep cost
    assert out[0]["vmin_centi"] == out[0]["vmax_centi"] == 5000


def test_trimmed_mean_count_based(spark):
    """Count-based 10% trim: k = n//10 dropped from EACH side over the
    total (value, id) order; degenerate small buckets keep everything."""
    from tsmp_spark.operators import trimmed_mean

    rows = [(i, "a", float(v), 0)
            for i, v in enumerate([100, 1, 2, 3, 4, 5, 6, 7, 8, -50])]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, sec long")
    out = trimmed_mean(ev, bucket_sec=86400, trim_pct=10).collect()[0]
    # n=10, k=1: drop -50 and 100 -> kept 1..8, sum 36*100 centi
    assert out["n"] == 10 and out["n_kept"] == 8
    assert out["sum_kept_centi"] == 3600
    assert out["mean_centi"] == 450.0
    # n < 1/trim_pct: k=0, nothing trimmed
    small = spark.createDataFrame(
        rows[:5], "event_id long, event_type string, value double, sec long")
    o2 = trimmed_mean(small, bucket_sec=86400, trim_pct=10).collect()[0]
    assert o2["n_kept"] == 5


def test_croston_forecast_recurrence(spark):
    """Croston: hand-replayed dyadic recurrence; single-demand users
    emit NULL interval/forecast."""
    from tsmp_spark.operators import croston_forecast

    rows = []
    # user 1: demands day 0 (2 events), day 3 (1), day 5 (4)
    rows += [(1, 10), (1, 20)]
    rows += [(1, 3 * 86400 + 5)]
    rows += [(1, 5 * 86400 + k) for k in range(4)]
    # user 2: one demand day only
    rows += [(2, 100), (2, 200)]
    ev = spark.createDataFrame(rows, "user_id long, sec long")
    out = {r["key"]: r for r in croston_forecast(ev).collect()}
    # replay: z=2 -> second demand z=1 gap 3: z_hat=1.5, q_hat=3
    # third demand z=4 gap 2: z_hat=2.75, q_hat=2.5
    u1 = out[1]
    assert u1["n_demands"] == 3
    assert u1["z_hat"] == 2.75 and u1["q_hat"] == 2.5
    assert u1["forecast"] == 2.75 / 2.5
    u2 = out[2]
    assert u2["n_demands"] == 1
    assert u2["q_hat"] is None and u2["forecast"] is None


def test_alarm_hysteresis_deadband(spark):
    """Hysteresis: ON at hi, stays ON through the deadband, OFF only at
    lo; chatter inside the band emits nothing; pre-crossing rows OFF."""
    from tsmp_spark.operators import alarm_transitions

    vals = [(0, 150.0), (1, 250.0), (2, 180.0), (3, 210.0), (4, 150.0),
            (5, 90.0), (6, 150.0), (7, 120.0), (8, 300.0)]
    ev = spark.createDataFrame(
        [(i, "a", v, i) for i, v in vals],
        "event_id long, event_type string, value double, sec long",
    )
    out = sorted(
        (r["t"], r["state"])
        for r in alarm_transitions(ev, hi_centi=20000, lo_centi=10000).collect()
    )
    # ON at t=1 (250), OFF at t=5 (90), ON at t=8 (300); deadband
    # values (180/210/150/150/120) never transition
    assert out == [(1, 1), (5, 0), (8, 1)]


def test_basket_lift_exact_counts(spark):
    """Lift quadruple on a hand basket set; duplicate lines collapse;
    support threshold prunes."""
    from tsmp_spark.operators import basket_lift

    rows = [
        (1, 10), (1, 20), (1, 20),        # dup line collapses
        (2, 10), (2, 20),
        (3, 10), (3, 30),
        (4, 40),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = basket_lift(li, min_pair_support=2).collect()
    assert len(out) == 1  # only (10,20) co-occurs twice
    r = out[0]
    assert (r["item_a"], r["item_b"]) == (10, 20)
    assert (r["pair_n"], r["a_n"], r["b_n"], r["n_baskets"]) == (2, 3, 2, 4)
    assert r["lift"] == (2 * 4) / (3 * 2)


def test_compaction_plan_ffd(spark):
    """FFD bin packing: decreasing-order first fit, oversized files get
    their own bin, per-group independence, bins never exceed target
    (except single-oversize bins)."""
    from collections import defaultdict

    from tsmp_spark.operators import compaction_plan

    rows = [
        ("a", 1, 600), ("a", 2, 500), ("a", 3, 400), ("a", 4, 300),
        ("a", 5, 1500),               # oversize -> own bin
        ("b", 6, 100), ("b", 7, 100),
    ]
    files = spark.createDataFrame(rows, "grp string, file_id long, size long")
    out = compaction_plan(files, target_bytes=1000).collect()
    assign = {r["file_id"]: (r["grp"], r["bin_id"]) for r in out}
    # order desc: 1500(own bin1), 600(bin2), 500(bin3: 600+500>1000),
    # 400(bin2: 600+400=1000 fits), 300(bin3: 500+300=800)
    assert assign[5] == ("a", 1)
    assert assign[1] == ("a", 2) and assign[3] == ("a", 2)
    assert assign[2] == ("a", 3) and assign[4] == ("a", 3)
    assert assign[6][1] == assign[7][1] == 1  # b packs into one bin
    loads = defaultdict(int)
    for r in out:
        loads[(r["grp"], r["bin_id"])] += r["size"]
    for (g, b), ld in loads.items():
        members = [r for r in out if (r["grp"], r["bin_id"]) == (g, b)]
        assert ld <= 1000 or len(members) == 1


def test_mp_left_right_min_merge_is_full_profile(spark):
    """Elementwise min of the left and right profiles IS the ordinary
    matrix profile (stomp.R:196-210): same mp value at every position,
    and pi equals whichever side won (left on ties — the full-profile
    update scans query windows in ascending order with strict <)."""
    import numpy as np

    from tsmp_spark.mpcore.stomp import stomp

    rng = np.random.default_rng(7)
    x = np.cumsum(rng.standard_normal(300))
    r = stomp(x, 12)
    merged = np.minimum(r.lmp, r.rmp)
    np.testing.assert_allclose(merged, r.mp, rtol=0, atol=0)
    pick = np.where(r.lmp <= r.rmp, r.lpi, r.rpi)
    finite = np.isfinite(r.mp)
    np.testing.assert_array_equal(pick[finite], r.pi[finite])


def test_mp_left_right_query_single_kernel_scan(spark):
    """The long-format L/R query keeps ONE Arrow kernel stage (stack
    unpivots below it, no lineage branching) and the L rows are exactly
    the positions whose neighbor index is smaller."""
    from tsmp_spark.queries import q_mp_left_right

    df = q_mp_left_right(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    rows = df.collect()
    assert rows
    for r in rows:
        if r["side"] == "L":
            assert r["pi"] < r["pos"]
        else:
            assert r["pi"] > r["pos"]


def test_contrast_profile_semantics(spark):
    """CP is 0 where A's self-match beats the AB match by nothing, and
    maximal where A repeats a shape B never shows: plant the same motif
    twice in A, keep B unrelated noise — CP at the motif positions must
    dominate the profile."""
    import numpy as np

    from tsmp_spark.operators import contrast_profile

    rng = np.random.default_rng(11)
    w = 8
    motif = np.sin(np.linspace(0, 4 * np.pi, w * 2))
    a = rng.standard_normal(120) * 0.05
    a[10 : 10 + motif.size] += motif
    a[70 : 70 + motif.size] += motif
    b = np.cumsum(rng.standard_normal(100))
    pairs = spark.createDataFrame(
        [("A", a.tolist(), "B", b.tolist())],
        "doc_id_a string, tokens_a array<double>, doc_id_b string, tokens_b array<double>",
    )
    rows = contrast_profile(pairs, w).collect()
    assert rows
    by_pos = {r["pos"]: r for r in rows}
    for r in rows:
        assert 0.0 <= r["cp"] <= 1.0
        assert abs(
            r["cp"]
            - min(max((r["mp_ab"] - r["mp_aa"]) / (2 * np.sqrt(w)), 0.0), 1.0)
        ) < 1e-12
    top = max(rows, key=lambda r: (r["cp"], -r["pos"]))
    # the winning contrast window OVERLAPS one of the motif plants (any
    # window touching the high-amplitude plant is dominated by it after
    # z-normalization, and the two plant regions mirror each other)
    assert (3 <= top["pos"] < 10 + motif.size) or (
        63 <= top["pos"] < 70 + motif.size
    ), top["pos"]
    # short pair is skipped whole (MIN_LEN gate on both sides)
    short = spark.createDataFrame(
        [("A", a.tolist()[:10], "B", b.tolist())],
        "doc_id_a string, tokens_a array<double>, doc_id_b string, tokens_b array<double>",
    )
    assert contrast_profile(short, w).count() == 0


def test_phrase_search_overlaps_and_repeats(spark):
    """Positional phrase AND: overlapping matches count separately,
    repeated phrase terms require genuinely consecutive positions, and
    ranking is (n_matches DESC, doc_id)."""
    from tsmp_spark.operators import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # 'a b a' matches at 0 and 2
            (2, "a a a a"),          # 'a a' matches at 0,1,2
            (3, "b a  b"),           # double space: still consecutive words
            (4, ""),                 # empty doc
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, "a b a"), (1, "a a"), (2, "b a b")],
        "query_id long, phrase_text string",
    )
    out = {(r["query_id"], r["doc_id"]): r for r in phrase_search(docs, phrases).collect()}
    assert out[(0, 1)]["n_matches"] == 2 and out[(0, 1)]["first_pos"] == 0
    assert out[(1, 2)]["n_matches"] == 3
    assert out[(1, 1)] if (1, 1) in out else True  # 'a a' never consecutive in doc1
    assert (1, 1) not in out
    assert out[(2, 3)]["n_matches"] == 1 and out[(2, 3)]["first_pos"] == 0
    assert out[(2, 1)]["n_matches"] == 2 and out[(2, 1)]["rank"] == 1
    assert out[(2, 3)]["rank"] == 2
    assert all(k[1] != 4 for k in out)


# --- DGIM exponential histogram ----------------------------------------------


def _dgim_ref(bits, n_window):
    """Sequential textbook DGIM (Datar et al. 2002): insert one bucket per
    1-bit, merge the two OLDEST whenever three share a size. Returns
    (est2, n_buckets_in_window, exact)."""
    buckets = []  # (size, pos) newest first
    for pos, b in enumerate(bits, start=1):
        if not b:
            continue
        buckets.insert(0, (1, pos))
        while True:
            sizes = [s for s, _ in buckets]
            for s in sorted(set(sizes)):
                idxs = [j for j, (sz, _) in enumerate(buckets) if sz == s]
                if len(idxs) == 3:
                    j1, j2 = idxs[-2], idxs[-1]
                    buckets[j1] = (2 * s, buckets[j1][1])
                    del buckets[j2]
                    break
            else:
                break
    p = len(bits)
    inw = [(s, t) for s, t in buckets if t >= p - n_window + 1]
    exact = sum(bits[-n_window:])
    if not inw:
        return 0, 0, exact
    return 2 * sum(s for s, _ in inw) - max(s for s, _ in inw), len(inw), exact


def test_dgim_closed_form_equals_state_machine(spark):
    """The relational closed form (bucket sizes = the {1,2}-digit base-2
    representation of the one-count) must reproduce the sequential DGIM
    state machine bucket-for-bucket — sizes, count, AND the halved-oldest
    estimate — plus the classic <=50% relative error bound."""
    import random

    from tsmp_spark.operators.sketch import dgim_estimate

    random.seed(11)
    rows, eid = [], 0
    for u in range(5):
        for i in range(random.choice([1, 7, 63, 64, 257, 500])):
            rows.append((eid, 1_700_000_000 + i, u))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts long, user_id long")
    out = dgim_estimate(
        df, (F.col("event_id") % 3 == 0), window_sizes=(8, 32, 128)
    ).collect()

    bits = {}
    for e, t, u in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        bits.setdefault(u, []).append(1 if e % 3 == 0 else 0)
    assert len(out) == 5 * 3
    for r in out:
        est2, nb, exact = _dgim_ref(bits[r.key], r.n_window)
        assert (r.est2, r.n_buckets, r.exact) == (est2, nb, exact), (
            r.key,
            r.n_window,
        )
        if exact:
            assert abs(r.est2 / 2 - exact) <= 0.5 * exact  # DGIM bound


def test_count_sketch_exact_when_collision_free_and_merge_identity(spark):
    """With a tiny vocab vs w=256 the d=4 rows are (almost surely)
    collision-free, where the signed estimator is EXACT (est == cnt —
    verified against an explicit per-row collision check, not assumed);
    and the retention-tier merge must equal the direct coarse build
    row-for-row (counter linearity)."""
    from tsmp_spark.operators.sketch import (
        CS_D, CS_W, count_sketch, cs_hash_rows, cs_rerollup,
    )

    rows = [(f"item{(i * 7) % 6}", (i % 8) * 3600 + i) for i in range(600)]
    ev = spark.createDataFrame(rows, "event_type string, sec long")
    out = {
        (r.bucket, r.item): (r.est, r.cnt)
        for r in count_sketch(ev, bucket_sec=21600).collect()
    }
    assert out
    # explicit collision map per (bucket, row): items sharing a column
    hashed = cs_hash_rows(ev, 21600, "event_type", "sec").dropDuplicates(
        ["bucket", "item"]
    ).collect()
    collide = set()
    for r in range(CS_D):
        seen: dict = {}
        for h in hashed:
            keycol = (h.bucket, r, h[f"k{r}"])
            if keycol in seen and seen[keycol] != h.item:
                collide.add((h.bucket, h.item))
                collide.add((h.bucket, seen[keycol]))
            seen[keycol] = h.item
    for key, (est, cnt) in out.items():
        if key not in collide:
            assert est == cnt, key
    merged = {
        (r.bucket, r.item): (r.est, r.cnt)
        for r in cs_rerollup(ev, fine_sec=3600, coarse_sec=21600).collect()
    }
    assert merged == out


def test_slo_burn_multiwindow_alert_semantics(spark):
    """Hand-built book: a key burning hot in both windows alerts; hot
    short but cold long (or the reverse) does NOT; empty windows never
    alert. Integer cross-multiplied comparisons only."""
    from tsmp_spark.operators.rollup import slo_burn

    t = 1_000_000
    rows = []
    # key 1: 4 events in short window, 3 errors (burn 3.75) AND long also hot
    rows += [(1, t - 100 * i, 1 if i < 3 else 0) for i in range(4)]
    # key 2: hot short (2/2 err) but long window diluted by 40 clean events
    rows += [(2, t - 10 * i, 1) for i in range(2)]
    rows += [(2, t - 30000 - i, 0) for i in range(40)]
    # key 3: all activity outside the short window, hot long only
    rows += [(3, t - 30000 - i, 1) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id long, sec long, err int")
    out = {
        r.key: r
        for r in slo_burn(
            df, F.col("err") == 1, short_sec=3600, long_sec=86400,
            budget_num=1, budget_den=5, burn_num=1, burn_den=1,
        ).collect()
    }
    assert out[1].alert == 1 and out[1].n_err_short == 3
    assert out[2].alert == 0  # long burn = 5*2/42 < 1
    assert out[2].n_tot_long == 42 and out[2].n_err_long == 2
    assert out[3].alert == 0 and out[3].n_tot_short == 0  # empty short


def test_sdt_error_audit_bound_holds_on_random_walk(spark):
    """Composed sdt_compress + lerp audit: on a centi-grid random walk
    every reconstruction error must clear the 2*dev bound (bound_ok=1
    per group) and max_err_milli must be consistent with a numpy lerp
    replay of the kept set."""
    import numpy as np

    from tsmp_spark.queries import q_sdt_error_audit

    out = q_sdt_error_audit(spark, "/root/testdata/sf0.001").collect()
    assert out
    assert all(r.bound_ok == 1 for r in out)
    assert all(r.n_kept <= r.n_points for r in out)
    assert any(r.n_kept < r.n_points for r in out)  # compression happened
    assert all(r.max_err_milli >= 0 for r in out)


def test_kmv_difference_exact_when_unfilled_and_bounded(spark):
    """Two sides below k: theta stays 2^32 so both difference estimates
    are the EXACT set-difference counts; a filled side keeps the
    estimate within the theta-sampling band of truth."""
    from tsmp_spark.operators.sketch import kmv_difference

    a = spark.createDataFrame([(i,) for i in range(30)], "user_id long")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "user_id long")
    r = kmv_difference(a, b, "user_id", "user_id").collect()[0]
    assert (r.n_a, r.n_b) == (30, 30)
    assert r.theta_h == 4294967296
    assert r.n_a_only == 20 and r.n_b_only == 20
    assert r.est_a_not_b == 20.0 and r.est_b_not_a == 20.0

    big_a = spark.createDataFrame([(i,) for i in range(3000)], "user_id long")
    big_b = spark.createDataFrame(
        [(i,) for i in range(1000, 4000)], "user_id long"
    )
    r2 = kmv_difference(big_a, big_b, "user_id", "user_id").collect()[0]
    # truth: |A\B| = |B\A| = 1000; k=64 theta sampling -> generous band
    assert 200 < r2.est_a_not_b < 3500
    assert 200 < r2.est_b_not_a < 3500


def test_scd2_build_versions_and_intervals(spark):
    """Hand-built change stream: consecutive duplicates collapse, ties
    break on event id, intervals chain half-open, last row current."""
    from tsmp_spark.operators.rollup import scd2_build

    rows = [
        (1, "a", 100, 1), (1, "a", 200, 2), (1, "b", 300, 3),
        (1, "b", 300, 4),  # same ts, same attr -> no new version
        (1, "a", 400, 5),
        (2, "x", 100, 6),
        # key 3: tie at t=100 — id order decides attr sequence a->b
        (3, "a", 100, 7), (3, "b", 100, 8),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, sec long, event_id long")
    out = {(r.key, r.version): r for r in scd2_build(df).collect()}
    assert len(out) == 3 + 1 + 2
    assert out[(1, 1)].attr == "a" and out[(1, 1)].valid_from == 100
    assert out[(1, 1)].valid_to == 300 and out[(1, 1)].is_current == 0
    assert out[(1, 2)].attr == "b" and out[(1, 2)].valid_to == 400
    assert out[(1, 3)].attr == "a" and out[(1, 3)].is_current == 1
    assert out[(2, 1)].is_current == 1 and out[(2, 1)].valid_to is None
    assert out[(3, 1)].attr == "a" and out[(3, 2)].attr == "b"
    assert out[(3, 1)].valid_to == 100  # zero-length interval from the tie


def test_realtime_rollup_union_equals_direct(spark):
    """The tier+raw union must equal the direct full-grain aggregate
    (the real-time cagg identity), the open tail must come from 'raw',
    and an explicit threshold moves the boundary."""
    from tsmp_spark.operators.rollup import realtime_rollup

    rows = [("k", 3600 * (i // 4) + i % 4, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "event_type string, sec long, value double")
    out = realtime_rollup(df, bucket_sec=3600).collect()
    direct = {
        (r.key, r.bucket): (r.n, r.sum_centi, r.vmin, r.vmax)
        for r in df.groupBy(
            F.col("event_type").alias("key"),
            F.floor(F.col("sec") / 3600).cast("long").alias("bucket"),
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_centi"),
            F.min(F.round(F.col("value") * 100).cast("bigint")).alias("vmin"),
            F.max(F.round(F.col("value") * 100).cast("bigint")).alias("vmax"),
        ).collect()
    }
    got = {(r.key, r.bucket): (r.n, r.sum_centi, r.vmin, r.vmax) for r in out}
    assert got == direct
    srcs = {r.bucket: r.src for r in out}
    assert srcs[max(srcs)] == "raw"
    assert all(s == "tier" for b, s in srcs.items() if b < max(srcs))
    # explicit threshold: everything raw when thr = 0
    out0 = realtime_rollup(df, bucket_sec=3600, threshold_sec=0).collect()
    assert all(r.src == "raw" for r in out0)


def test_cdc_apply_delete_and_last_write_wins(spark):
    from tsmp_spark.operators.rollup import cdc_apply

    rows = [
        (1, "U", 100, 1, 1.0), (1, "U", 200, 2, 2.0),       # live, v=200
        (2, "U", 100, 3, 5.0), (2, "D", 200, 4, 0.0),       # deleted
        (3, "D", 100, 5, 0.0), (3, "U", 200, 6, 7.0),       # resurrected
        (4, "U", 100, 7, 1.0), (4, "U", 100, 8, 9.0),       # tie -> id 8 wins
    ]
    df = spark.createDataFrame(
        rows, "user_id long, op string, sec long, event_id long, value double"
    )
    out = {r.key: r for r in cdc_apply(df).collect()}
    assert set(out) == {1, 3, 4}
    assert out[1].value_centi == 200 and out[1].n_ops == 2
    assert out[3].value_centi == 700 and out[3].last_ts == 200
    assert out[4].value_centi == 900


def test_dtw_search_lower_bound_property_and_plant(spark):
    """LB_Keogh <= exact banded DTW on every emitted row; a planted
    exact copy of the query ranks first with dtw == lb == 0; results
    deterministic across runs."""
    import numpy as np

    from tsmp_spark.operators.series import dtw_search

    rng = np.random.default_rng(3)
    rows = []
    q = [int(x) for x in rng.integers(0, 100, 48)]
    rows.append((0, q, 48))  # smallest doc_id -> becomes the query
    for d in range(1, 12):
        toks = [int(x) for x in rng.integers(0, 100, 80)]
        if d == 7:
            toks[20:36] = q[:16]  # planted exact match
        rows.append((d, toks, len(toks)))
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>, n_tok int")
    out = dtw_search(df, t=16, band=3, min_query_len=48, k_cand=32, topk=10).collect()
    assert len(out) == 10
    for r in out:
        assert r.lb <= r.dtw
    best = [r for r in out if r.rank == 1][0]
    assert best.dtw == 0
    assert (best.doc_id, best.pos) in {(0, 0), (7, 20)}
    again = dtw_search(df, t=16, band=3, min_query_len=48, k_cand=32, topk=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_sigma_clip_iterative_book(spark):
    """Iterative 3-sigma clipping replays a numpy reference pass-for-pass:
    a gross outlier masks a milder one until round 2 (the iterative
    property); constant and singleton groups clip nothing; boundary
    points (|x-mu| == 3s exactly) survive."""
    import numpy as np
    from tsmp_spark.operators import sigma_clip

    base = [10.0, 10.02, 9.98, 10.01, 9.99, 10.0, 10.03, 9.97] * 4
    vals = base + [500.0, 12.0]   # 500 clipped r1, 12 clipped r2
    rows = [(i, "a", v) for i, v in enumerate(vals)]
    rows += [(100 + i, "const", 7.0) for i in range(5)]
    rows += [(200, "single", 3.5)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r.key: r for r in sigma_clip(ev, rounds=3, k_sigma=3).collect()}

    def np_clip(vs, rounds=3, k=3):
        cu = np.round(np.array(vs) * 100).astype(np.int64)
        for _ in range(rounds):
            n, s1, s2 = len(cu), cu.sum(), (cu * cu).sum()
            keep = (n * cu - s1) ** 2 * (n - 1) <= k * k * n * (n * s2 - s1 * s1)
            cu = cu[keep]
        return cu

    ref = np_clip([float(v) for v in vals])
    assert out["a"].n_raw == len(vals)
    assert out["a"].n_kept == len(ref) == len(base)  # both outliers gone
    assert out["a"].sum_kept_centi == int(ref.sum())
    assert out["a"].mean_kept == ref.sum() / len(ref)
    # one round only removes the gross outlier; the mild one hides behind it
    one = {r.key: r for r in sigma_clip(ev, rounds=1, k_sigma=3).collect()}
    assert one["a"].n_kept == len(base) + 1
    assert out["const"].n_clipped == 0 and out["const"].n_kept == 5
    assert out["single"].n_kept == 1 and out["single"].mean_kept == 350.0


def test_triangle_stats_hand_graph(spark):
    """K4 gives every node tri=C(3,2)... i.e. 3 triangles per node and
    lcc=1; a pendant node has deg=1, tri=0, lcc NULL; a star hub has
    zero triangles (and zero oriented wedges — the skew-cap property);
    duplicate/reversed input edges collapse."""
    from tsmp_spark.operators import triangle_stats

    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    edges = k4 + [(3, 10)]                      # pendant off the clique
    edges += [(20, 21 + i) for i in range(5)]   # star: hub 20, 5 leaves
    edges += [(j, i) for i, j in k4] + k4       # reversed + duplicates
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r for r in triangle_stats(df).collect()}
    for n in range(3):
        assert out[n].deg == 3 and out[n].tri == 3 and out[n].lcc == 1.0
    assert out[3].deg == 4 and out[3].tri == 3
    assert out[3].lcc == 6.0 / 12.0
    assert out[10].deg == 1 and out[10].tri == 0 and out[10].lcc is None
    assert out[20].deg == 5 and out[20].tri == 0 and out[20].lcc == 0.0
    total = sum(r.tri for r in out.values())
    assert total == 3 * 4  # 4 triangles in K4, each credited 3 times


def test_spc_western_electric_rules(spark):
    """Hand-built chart: R1 fires on a 3-sigma spike, R2 on 2-of-3
    beyond 2-sigma same side, R4 on 8 consecutive same-side points;
    constant series fires nothing; a center-line point breaks runs."""
    from tsmp_spark.operators import spc_rules

    # key "a": baseline alternating +/-1 around 0 keeps mu=0, sd=1-ish;
    # engineered with explicit numbers instead: values in centi already.
    def rows(key, vals, base_id=0):
        return [
            (base_id + i, key, float(i), float(v)) for i, v in enumerate(vals)
        ]

    # mu=0, sigma=2: eight [+2,-2] pairs then a 10 spike (5 sigma) -> R1
    a = [2, -2] * 8 + [10]
    # "b": 2-of-3 beyond 2 sigma same side: 12 alternating +/-1 then two
    # +4s (d=4800, 4*var_n2=22.08e6 < d^2=23.04e6 < 9*var_n2 -> zone B
    # only, hand-checked in centi units)
    b = [1, -1] * 6 + [4, 4]
    # "c": 8 consecutive above mean after alternating prefix
    c = [5, -5] * 8 + [1] * 8
    ev = spark.createDataFrame(
        rows("a", a) + rows("b", b, 100) + rows("c", c, 200) + rows("k", [4.0] * 10, 300),
        "event_id long, event_type string, sec double, value double",
    )
    out = {r.key: r for r in spc_rules(ev).collect()}
    assert out["a"].v1 >= 1                      # the spike
    assert out["b"].v2 >= 1 and out["b"].v1 == 0  # zone-B run, never 3sd
    assert out["c"].v4 >= 1                      # 8 same side
    k = out["k"]
    assert (k.v1, k.v2, k.v3, k.v4) == (0, 0, 0, 0)  # constant: sigma 0, quiet


def test_rdp_simplify_exact_walk(spark):
    """Hand-built polylines: the apex of a V survives, collinear
    interiors vanish, duplicate timestamps collapse to the latest
    event_id, 2-point windows pass through, and the depth budget caps
    a dense square wave at 2^depth + 1 kept points."""
    from tsmp_spark.operators import rdp_simplify

    rows = []

    def add(key, pts, base=0):
        for i, (t, v) in enumerate(pts):
            rows.append((base + i, key, float(t), float(v)))

    add("v", [(0, 0.0), (5, 10.0), (10, 0.0)])
    add("l", [(i, 2.0 * i) for i in range(6)], 100)          # collinear
    add("d", [(0, 0.0), (3, 9.0), (3, 1.0), (8, 0.0)], 200)  # dup t=3
    add("t2", [(1, 5.0), (2, -5.0)], 300)
    add("z", [(i, (i % 2) * 10.0) for i in range(20)], 400)  # square wave
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec double, value double"
    )
    got = {}
    for r in rdp_simplify(ev, eps_centi=50, max_depth=3).collect():
        got.setdefault(r.key, []).append((r.t, r.v_centi))
    for k in got:
        got[k].sort()
    assert got["v"] == [(0, 0), (5, 1000), (10, 0)]
    assert got["l"] == [(0, 0), (5, 1000)]       # interiors dev == 0
    assert got["d"] == [(0, 0), (3, 100), (8, 0)]  # id 202 beats 201
    assert got["t2"] == [(1, 500), (2, -500)]
    assert len(got["z"]) <= 2 ** 3 + 1            # depth budget
    assert got["z"][0] == (0, 0) and got["z"][-1] == (19, 1000)


def test_ar2_forecast_hand_values(spark):
    """Alternating +/-1 series has closed-form Yule-Walker solution
    (r1=-0.9, r2=0.8 at n=10 -> phi1=-18/19, phi2=-1/19); constant and
    2-point series NULL out through the degenerate guards."""
    from tsmp_spark.operators import ar2_forecast

    rows = []
    for i in range(10):
        rows.append((1, float(i), 1.0 if i % 2 == 0 else -1.0))
    for i in range(10):
        rows.append((2, float(i), 5.0))          # constant
    rows += [(3, 0.0, 3.0), (3, 1.0, 7.0)]       # too short for lag 2
    ev = spark.createDataFrame(rows, "user_id long, sec double, value double")
    out = {r.user_id: r for r in ar2_forecast(ev).collect()}

    a = out[1]
    assert a.n == 10
    assert a.phi1 == pytest.approx(-18.0 / 19.0, abs=2e-6)
    assert a.phi2 == pytest.approx(-1.0 / 19.0, abs=2e-6)
    # last obs -1 (t=9), previous +1: f1 = -phi1 + phi2 = 17/19
    assert a.fc1 == pytest.approx(17.0 / 19.0, abs=2e-6)
    assert a.fc2 == pytest.approx((-18.0 / 19.0) * (17.0 / 19.0) + 1.0 / 19.0, abs=2e-6)

    c = out[2]
    assert c.phi1 is None and c.fc1 is None and c.fc3 is None

    s = out[3]
    assert s.n == 2 and s.phi1 is None and s.fc1 is None


def test_wordpiece_greedy_munch(spark):
    """Full-vocab corpus: greedy takes the longest (4-char) start piece
    then continuation pieces; words <= 4 chars stay whole; vocab_size=0
    degrades to exact char-level encoding with ## continuations."""
    from tsmp_spark.operators import wordpiece_encode

    docs = spark.createDataFrame(
        [("d1", "banana bandana cat")], "doc_id string, text string"
    )
    out = {r.piece: (r.rank, r.cnt) for r in wordpiece_encode(
        docs, vocab_size=400, top_k=40
    ).collect()}
    assert set(out) == {"bana", "##na", "band", "##ana", "cat"}
    assert all(c == 1 for _, c in out.values())
    # equal counts -> alphabetical rank order
    assert [p for p, (r, _) in sorted(out.items(), key=lambda kv: kv[1][0])] == [
        "##ana", "##na", "bana", "band", "cat"
    ]

    docs2 = spark.createDataFrame(
        [("d1", "cat cat")], "doc_id string, text string"
    )
    out2 = {r.piece: r.cnt for r in wordpiece_encode(
        docs2, vocab_size=0, top_k=40
    ).collect()}
    assert out2 == {"c": 2, "##a": 2, "##t": 2}


def test_isotonic_fit_pava_equivalence(spark):
    """Hand cases ([3,1,2] -> [2,2,2]; [1,3,2] -> [1,2.5,2.5]; sorted
    input is a fixed point) plus equivalence to a reference PAVA on a
    seeded series, and the monotonicity invariant."""
    import numpy as np

    from tsmp_spark.operators import isotonic_fit

    def pava(y):
        # classic pool-adjacent-violators, float means
        blocks = [[v, 1] for v in y]
        i = 0
        while i < len(blocks) - 1:
            if blocks[i][0] / blocks[i][1] > blocks[i + 1][0] / blocks[i + 1][1]:
                blocks[i][0] += blocks[i + 1][0]
                blocks[i][1] += blocks[i + 1][1]
                del blocks[i + 1]
                i = max(i - 1, 0)
            else:
                i += 1
        out = []
        for s, c in blocks:
            out += [s / c] * c
        return out

    rng = np.random.RandomState(7)
    series = {
        1: [3.0, 1.0, 2.0],
        2: [1.0, 3.0, 2.0],
        3: [1.0, 2.0, 3.0, 4.0],
        4: list(np.round(rng.randn(20) * 5, 2)),
    }
    rows = []
    for k, vals in series.items():
        for h, v in enumerate(vals):
            rows.append((100 * k + h, str(k), float(3600 * h), float(v)))
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec double, value double"
    )
    got = {}
    for r in isotonic_fit(ev).collect():
        got.setdefault(r.key, []).append((r.hr, r.yhat))
    fits = {k: [y for _, y in sorted(v)] for k, v in got.items()}
    # yhat is in centi-units (the v_centi grid the fit runs on)
    assert fits["1"] == [200.0, 200.0, 200.0]
    assert fits["2"] == [100.0, 250.0, 250.0]
    assert fits["3"] == [100.0, 200.0, 300.0, 400.0]
    # seeded series: matches reference PAVA on centi-units, and monotone
    expect = pava([round(v * 100) for v in series[4]])
    assert fits["4"] == pytest.approx([e for e in expect], abs=1e-9)
    assert all(a <= b + 1e-12 for a, b in zip(fits["4"], fits["4"][1:]))


def test_roc_auc_hand_cases(spark):
    """1-dim embeddings make the score the squared value: perfect
    separation gives AUC 1/0, an all-tied table gives 0.5, and a mixed
    layout reproduces the hand-counted pair fraction."""
    from tsmp_spark.operators import roc_auc_by_label

    def emb(rows):
        return spark.createDataFrame(
            [(i, [float(v)], l) for i, (v, l) in enumerate(rows)],
            "vec_id long, embedding array<float>, label int",
        )

    # positives at squares {4, 9}, negatives at {1, 2}
    out = {r.label: r for r in roc_auc_by_label(
        emb([(2.0, 1), (3.0, 1), (1.0, 0), (2.0 ** 0.5, 0)])
    ).collect()}
    assert out[1].auc == 1.0 and out[0].auc == 0.0
    assert out[1].n1 == 2 and out[1].n0 == 2

    # all tied -> 0.5 for every class
    out2 = {r.label: r for r in roc_auc_by_label(
        emb([(1.0, 0), (1.0, 0), (1.0, 1), (1.0, 2)])
    ).collect()}
    assert out2[0].auc == 0.5 and out2[1].auc == 0.5 and out2[2].auc == 0.5

    # pos squares {1, 9}, neg squares {4, 16}: 1 of 4 pairs won -> 0.25
    out3 = {r.label: r for r in roc_auc_by_label(
        emb([(1.0, 1), (3.0, 1), (2.0, 0), (4.0, 0)])
    ).collect()}
    assert out3[1].auc == 0.25 and out3[0].auc == 0.75


def test_calibration_bins_hand_case(spark):
    """A perfectly calibrated bin contributes zero gap; a fully wrong
    high-confidence bin contributes its whole confidence mass; ECE is
    the N-weighted mixture (0.3 here, exactly)."""
    from tsmp_spark.operators import calibration_bins

    # conf = (x0 + 0.4) / 0.8: x0=0.2 -> 0.75 (bin 7), x0=0.32 -> 0.9 (bin 9)
    rows = [
        # bin 7: 3 of 4 correct -> acc 0.75 == conf 0.75, gap 0
        (1, [0.2, 1.0], 1), (2, [0.2, 1.0], 1), (3, [0.2, -1.0], 0),
        (4, [0.2, 1.0], 0),
        # bin 9: both wrong -> acc 0, conf 0.9
        (5, [0.32, 1.0], 0), (6, [0.32, -1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.bin: r for r in calibration_bins(emb, n_bins=10).collect()}
    assert set(out) == {7, 9}
    b7, b9 = out[7], out[9]
    assert b7.n == 4 and b7.acc == 0.75 and b7.conf_avg == 0.75
    assert b9.n == 2 and b9.acc == 0.0 and b9.conf_avg == pytest.approx(0.9)
    # ECE = (0 + |0 - 2*0.9e6|) / (1e6 * 6) = 0.3 on every row
    assert b7.ece == pytest.approx(0.3) and b9.ece == pytest.approx(0.3)


def test_salted_skew_agg_equals_direct(spark):
    """An extreme hot key (90% of rows on one source) through the salted
    two-phase path equals the direct groupBy exactly — count/sum/min/max
    are algebraic, the mean is one division of the same bigints."""
    from tsmp_spark.operators import salted_groupby_stats

    rows = [(i, "hot" if i % 10 else "cold", 100 + 7 * i) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.key: r for r in salted_groupby_stats(docs, salt_buckets=8).collect()}
    want = {
        r["source"]: r
        for r in docs.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("s"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .collect()
    }
    assert set(got) == {"hot", "cold"}
    for k, w in want.items():
        g = got[k]
        assert (g.n_docs, g.chars_sum, g.chars_min, g.chars_max) == (
            w["n"], w["s"], w["mn"], w["mx"],
        )
        assert g.chars_avg == w["s"] / w["n"]


def test_forecast_backtest_hand_case(spark):
    """Period-3 series with one corrupted test bucket: seasonal-naive is
    perfect except the last bucket, so MASE = (1·n_train)/(d_sum·n_test)
    computed by hand = 0.25."""
    import datetime as dt

    from tsmp_spark.operators.rollup import forecast_backtest

    base = dt.datetime(2024, 1, 1)
    vals = [1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 2.0]
    rows = [(i, base + dt.timedelta(seconds=i), "k", v) for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = forecast_backtest(ev, bucket_sec=1, season=3, horizon=3).collect()
    assert len(out) == 1
    r = out[0]
    # test buckets 7,8,9: forecasts v[4],v[5],v[6] = 2,3,1 vs 2,3,2 -> e=1e6
    # train buckets 1..6: naive-1 diffs 1,1,2,1,1,2 -> d=8e6
    assert (r.n_test, r.n_train, r.e_sum_u, r.d_sum_u) == (3, 6, 1000000, 8000000)
    assert r.mase == (1000000 * 6) / (8000000 * 3)


def test_allan_variance_hand_case(spark):
    """8 base buckets with counts [2,0,1,3,2,2,4,0]: hand-checked block
    sums and squared successive diffs at m=1,2,4; m=8 has one block ->
    NULL avar."""
    import datetime as dt

    from tsmp_spark.operators.rollup import allan_variance

    base = dt.datetime(2024, 1, 1)
    counts = [2, 0, 1, 3, 2, 2, 4, 0]
    rows = []
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(seconds=i), "k"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r.m: r for r in allan_variance(ev, bucket_sec=1, taus=(1, 2, 4, 8)).collect()}
    # m=1: series has lo..hi = buckets 0..6 only (bucket 7 has count 0 and
    # no events -> spine ends at 6). v = [2,0,1,3,2,2,4]
    # ds^2: 4,1,4,1,0,4 -> ss=14, M=7, avar=14/12
    assert (out[1].m_blocks, out[1].ss) == (7, 14)
    assert out[1].avar == 14 / 12
    # m=2: blocks (2,0),(1,3),(2,2) complete -> S=[2,4,4]; ds^2: 4,0 -> ss=4
    assert (out[2].m_blocks, out[2].ss) == (3, 4)
    assert out[2].avar == 4 / (2 * 2 * 4)
    # m=4: one complete block (buckets 0-3) -> M=1 -> NULL
    assert out[4].m_blocks == 1 and out[4].avar is None
    assert 8 not in out or out[8].m_blocks == 0


def test_kcore_peel_hand_case(spark):
    """Triangle {1,2,3} with pendant 4-5 chain: k=2 peels 5 in round 1
    (deg 1), then 4 in round 2 (its only edge died), triangle survives
    with degree 2 each."""
    from tsmp_spark.operators import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r.node: r for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert out[5].removed_round == 1 and out[5].final_deg is None
    assert out[4].removed_round == 2
    for n in (1, 2, 3):
        assert out[n].removed_round is None and out[n].final_deg == 2


def test_mmr_topk_diversifies(spark):
    """Query q has two near-identical high-relevance docs (1, 2) and a
    less relevant but orthogonal doc 3: plain top-2 is {1, 2}, MMR
    round 2 must skip the redundant 2 and pick 3."""
    from tsmp_spark.operators import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),        # the query
        (1, [0.999, 0.04471, 0.0]),  # near-duplicate of the query axis
        (2, [0.998, 0.0632, 0.0]),   # near-duplicate of doc 1
        (3, [0.5, 0.0, 0.8660]),     # less relevant, orthogonal-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0)
    out = {r.sel_round: r for r in mmr_topk(emb, q, k=2, pool=3).collect()}
    assert out[1].neighbor_id == 1  # most relevant
    assert out[2].neighbor_id == 3  # diversity beats redundancy


def test_fellegi_sunter_hand_case(spark):
    """4 records, one block: u = 1/3 for all three fields, so agreement
    weight = ln(2.7) and disagreement = ln(0.15); the three observed
    patterns carry hand-computed scores."""
    import math

    from tsmp_spark.operators import fellegi_sunter_blocks

    rows = [
        (1, 0, "A", "x1", 0.0),
        (2, 0, "A", "y1", 2000.0),
        (3, 0, "B", "z2", 0.0),
        (4, 0, "B", "w2", 2000.0),
    ]
    cust = spark.createDataFrame(
        rows,
        "c_custkey long, c_nationkey int, c_mktsegment string, "
        "c_name string, c_acctbal double",
    )
    out = {
        (r.g_seg, r.g_digit, r.g_bal): r
        for r in fellegi_sunter_blocks(cust).collect()
    }
    wa, wd = math.log(2.7), math.log(0.15)
    assert out[(1, 1, 0)].n_pairs == 2
    assert out[(1, 1, 0)].score == pytest.approx(2 * wa + wd)
    assert out[(0, 0, 1)].n_pairs == 2
    assert out[(0, 0, 1)].score == pytest.approx(2 * wd + wa)
    assert out[(0, 0, 0)].n_pairs == 2
    assert out[(0, 0, 0)].score == pytest.approx(3 * wd)


def test_lcss_pairs_hand_case(spark):
    """LCS of [1,2,3,4] vs [2,4,1,3] is 2 ([2,3] or [1,3] or [2,4]);
    identical docs give lcs = trunc and sim = 1.0."""
    from tsmp_spark.mpcore.dtw import lcs_length
    from tsmp_spark.operators import lcss_pairs

    assert lcs_length([1, 2, 3, 4], [2, 4, 1, 3]) == 2
    assert lcs_length([], [1, 2]) == 0
    assert lcs_length([5, 5, 5], [5, 5]) == 2

    rows = [
        ("1", [1, 2, 3, 4], 4, "s"),
        ("2", [2, 4, 1, 3], 4, "s"),
        ("3", [1, 2, 3, 4], 4, "s"),
    ]
    nested = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    out = {(r.ida, r.idb): r for r in lcss_pairs(nested, trunc=4, k_docs=3).collect()}
    assert out[(1, 2)].lcs == 2 and out[(1, 2)].sim == 0.5
    assert out[(1, 3)].lcs == 4 and out[(1, 3)].sim == 1.0
    assert out[(2, 3)].lcs == 2


def test_rbo_rankings_hand_case(spark):
    """Cosine order (1,3,2) vs dot order (1,2,3): matched weights are
    w[1] + 2*w[3] over the exact denominator."""
    from tsmp_spark.operators import rbo_rankings
    from tsmp_spark.operators.similarity import RBO_DEN, RBO_WEIGHTS

    rows = [
        (0, [1.0, 0.0]),     # query
        (1, [2.0, 0.0]),     # cos 1.0 (tie, id first), dot 2.0
        (2, [0.9, 0.435]),   # cos ~0.9, dot 0.9
        (3, [0.5, 0.0]),     # cos 1.0 (tie, id second), dot 0.5
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = rbo_rankings(emb, emb.filter(F.col("vec_id") == 0)).collect()
    assert len(out) == 1
    r = out[0]
    want = RBO_WEIGHTS[0] + 2 * RBO_WEIGHTS[2]
    assert r.n_common == 3 and r.num_sum == want
    assert r.rbo == want / RBO_DEN


def test_presence_rollup_hand_case(spark):
    """Events at minutes 0, 1, 59 of hour 0 and minute 0 of hour 5:
    tier-1 masks are exact bit patterns; tier-2 (4h) sees hour 0 in
    coarse bucket 0 bit 0 and hour 5 in coarse bucket 1 bit 1."""
    from tsmp_spark.operators.sketch import presence_rollup

    secs = [0, 60, 3599, 5 * 3600]
    ev = spark.createDataFrame([("k", s) for s in secs], "event_type string, sec long")
    out = {(r.tier, r.bucket): r for r in presence_rollup(ev).collect()}
    assert out[(1, 0)].mask == (1 << 0) | (1 << 1) | (1 << 59)
    assert out[(1, 0)].n_active == 3
    assert out[(1, 5)].mask == 1 and out[(1, 5)].n_active == 1
    assert out[(2, 0)].mask == 1        # only hour 0 active in hours 0-3
    assert out[(2, 1)].mask == (1 << 1)  # hour 5 = fine bit 1 of bucket 1


def test_hard_negatives_excludes_same_label(spark):
    from tsmp_spark.operators import hard_negatives

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.141], 1),   # same label: excluded however similar
        (2, [0.9, 0.436], 0),    # different label
        (3, [0.0, 1.0], 0),      # different label, orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = [
        (r.neighbor_id, r.rank)
        for r in hard_negatives(emb, emb.filter(F.col("vec_id") == 0), k=3)
        .orderBy("rank")
        .collect()
    ]
    assert out == [(2, 1), (3, 2)]


def test_churn_labels_hand_case(spark):
    """User active on days 0, 3, 20 with data ending day 20: day 0 not
    churned (gap 3), day 3 churned (gap 17), day 20 censored -> NULL."""
    import datetime as dt

    from tsmp_spark.operators.rollup import churn_labels

    base = dt.datetime(2024, 1, 1)
    days = [0, 3, 20]
    ev = spark.createDataFrame(
        [(i, base + dt.timedelta(days=d), 1) for i, d in enumerate(days)],
        "event_id long, ts timestamp, user_id long",
    )
    out = {r.day - 19723: r for r in churn_labels(ev).collect()}
    d0 = min(out)
    assert out[d0].churned == 0
    assert out[d0 + 3].churned == 1
    assert out[d0 + 20].churned is None


def test_cdc_chunks_boundary_shift_locality(spark):
    """Two docs sharing a long tail but differing at the head still share
    the tail chunks (boundaries move WITH content): every chunk of the
    common suffix that starts after both docs' heads appears with
    n_docs == 2."""
    from tsmp_spark.operators import cdc_chunks

    tail = " ".join(f"w{i}" for i in range(120))
    rows = [(1, "alpha beta " + tail), (2, "gamma " + tail)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = cdc_chunks(docs, w=3, modulus=8).collect()
    # fixed-size chunking would share nothing (offsets differ by 1 word);
    # CDC must recover shared chunks from the 120-word common tail
    shared = [r for r in out if r.n_docs == 2]
    assert len(shared) >= 3
    assert all(r.n_occ >= 2 for r in out)


def test_freq_of_freqs_hand_case(spark):
    """Tokens with counts {a:1, b:1, c:2, d:3}: N_1=2, N_2=1, N_3=1;
    c*(1) = 2*1/2 = 1.0, c*(2) = 3*1/1 = 3.0, c*(3) NULL."""
    from tsmp_spark.operators import freq_of_freqs

    rows = [("1", [10, 11, 12, 12, 13, 13, 13])]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r.c: r for r in freq_of_freqs(seq).collect()}
    assert out[1].n_types == 2 and out[1].c_star == 1.0
    assert out[2].n_types == 1 and out[2].c_star == 3.0
    assert out[3].n_types == 1 and out[3].c_star is None


def test_minhash_accuracy_audit_hand_case(spark):
    """Identical docs: all 8 minhashes agree, exact Jaccard 1.0, error 0.
    Disjoint docs: 0 matches, exact 0, error 0."""
    from tsmp_spark.operators import minhash_accuracy_audit

    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different words appear in this other document here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r for r in minhash_accuracy_audit(docs).collect()}
    same = out[(0, 1)]
    assert same.est_matches == 8 and same.est_jaccard == 1.0
    assert same.inter == same.uni and same.exact_jaccard == 1.0
    assert same.abs_err == 0.0
    disj = out[(0, 2)]
    assert disj.inter == 0 and disj.exact_jaccard == 0.0
    assert disj.est_matches == 0 and disj.abs_err == 0.0


def test_presence_stream_equals_batch_any_order(spark):
    """Scrambled micro-batch order through the stateful fold equals the
    batch tier-1 mask (bit_or commutes + idempotent) — exercised via the
    state function directly with out-of-order and duplicate slots."""
    import pandas as pd

    from tsmp_spark.streaming.sketch import _presence_func

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    batches = [
        pd.DataFrame({"slot": [59, 0]}),
        pd.DataFrame({"slot": [0, 7]}),  # duplicate slot 0: idempotent
    ]
    rows = []
    for b in batches:
        rows = list(_presence_func(("k", 5), iter([b]), st))
    out = rows[-1].iloc[0]
    assert out["mask"] == (1 << 59) | (1 << 0) | (1 << 7)
    assert out["n_active"] == 3 and out["n_seen"] == 4


def test_apdex_hand_case(spark):
    """Values 10, 60, 150, 300 vs T=50: 1 satisfied, 2 tolerating (60,
    150 <= 200), 1 frustrated -> apdex = (2*1+2)/8 = 0.5."""
    import datetime as dt

    from tsmp_spark.operators.rollup import apdex_scores

    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 60.0, 150.0, 300.0]
    ev = spark.createDataFrame(
        [(i, base, "k", v) for i, v in enumerate(vals)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    out = apdex_scores(ev, threshold_centi=5000).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.satisfied, r.tolerating) == (4, 1, 2)
    assert r.apdex == 0.5


def test_mi_contingency_hand_case(spark):
    """Perfectly dependent layout (type A only hour 0, B only hour 1,
    equal counts): every observed cell has pmi = ln(2)."""
    import datetime as dt
    import math

    from tsmp_spark.operators.rollup import mi_contingency

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(4):
        rows.append((i, base, "A"))
        rows.append((100 + i, base + dt.timedelta(hours=1), "B"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = mi_contingency(ev).collect()
    assert len(out) == 2
    for r in out:
        assert r.c == 4 and r.c_key == 4 and r.c_hour == 4 and r.n_total == 8
        assert r.pmi == pytest.approx(math.log(2))


def test_hdr_accuracy_audit_bound(spark):
    """HDR's exponential buckets guarantee ~3% relative value error
    (5-bit mantissa): the audited realized error must respect it, and
    the exact percentiles must be true nearest-rank values."""
    from tsmp_spark.operators.sketch import hdr_accuracy_audit

    vals = [float(v) for v in range(1, 101)]  # 1..100
    ev = spark.createDataFrame(
        [(i, "k", 0, v) for i, v in enumerate(vals)],
        "event_id long, event_type string, sec long, value double",
    )
    out = hdr_accuracy_audit(ev, bucket_sec=86400).collect()
    assert len(out) == 1
    r = out[0]
    # nearest-rank over 100 values: ranks 50/90/99 -> values 50/90/99
    assert r.p50_c == 5000 and r.p90_c == 9000 and r.p99_c == 9900
    for rel in (r.rel50, r.rel90, r.rel99):
        assert rel is not None and rel <= 0.04


def test_ndcg_hand_case(spark):
    """Query with 2 relevant docs in the corpus: retrieved ranks put one
    relevant at rank 1 and one at rank 3 -> DCG = w1 + w3,
    IDCG = w1 + w2, nDCG computed from the exact integer table."""
    from tsmp_spark.operators import ndcg_at_k
    from tsmp_spark.operators.similarity import NDCG_PREFIX, NDCG_W

    rows = [
        (0, [1.0, 0.0], 1),      # query, label 1
        (1, [0.99, 0.141], 1),   # relevant, rank 1 (closest)
        (2, [0.9, 0.436], 0),    # irrelevant, rank 2
        (3, [0.8, 0.6], 1),      # relevant, rank 3
        (4, [0.0, 1.0], 0),      # irrelevant, rank 4
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ndcg_at_k(emb, emb.filter(F.col("vec_id") == 0)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_retrieved == 4 and r.n_relevant_at_k == 2
    assert r.dcg_num == NDCG_W[0] + NDCG_W[2]
    assert r.idcg_num == NDCG_PREFIX[1]
    assert r.ndcg == (NDCG_W[0] + NDCG_W[2]) / NDCG_PREFIX[1]


def test_retrieval_metrics_hand_case(spark):
    """Same layout as the nDCG hand case: first relevant at rank 1,
    2 of 2 relevant retrieved -> rr 1.0, p@10 0.2, recall 1.0."""
    from tsmp_spark.operators import retrieval_metrics

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.141], 1),
        (2, [0.9, 0.436], 0),
        (3, [0.8, 0.6], 1),
        (4, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = retrieval_metrics(emb, emb.filter(F.col("vec_id") == 0)).collect()
    r = out[0]
    assert r.first_rel_rank == 1 and r.rr == 1.0
    assert r.n_relevant_at_k == 2 and r.n_relevant == 2
    assert r.precision_at_k == 0.2 and r.recall_at_k == 1.0


def test_order_integrity_hand_case(spark):
    """Ids in perfect ts order -> footrule 0; ids fully reversed vs ts
    -> footrule = floor(n^2/2) -> disorder exactly 1.0."""
    import datetime as dt

    from tsmp_spark.operators.rollup import order_integrity_audit

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(5):  # ordered key
        rows.append((i, base + dt.timedelta(seconds=i), "ord"))
    for i in range(5):  # reversed key: later ids have earlier ts
        rows.append((100 + i, base + dt.timedelta(seconds=100 - i), "rev"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r.key: r for r in order_integrity_audit(ev).collect()}
    assert out["ord"].footrule == 0 and out["ord"].disorder == 0.0
    assert out["rev"].footrule == 12 and out["rev"].disorder == 1.0


def test_snapshot_diff_hand_case(spark):
    from tsmp_spark.operators.rollup import snapshot_diff

    a = spark.createDataFrame(
        [(1, 10, "A"), (2, 20, "B"), (3, 30, "C")], "k long, v long, s string"
    )
    b = spark.createDataFrame(
        [(1, 10, "A"), (2, 21, "B"), (4, 40, "D")], "k long, v long, s string"
    )
    out = {r.key: r.op for r in snapshot_diff(a, b, "k", ("v", "s")).collect()}
    assert out == {2: "update", 3: "delete", 4: "insert"}


def test_watermark_audit_hand_case(spark):
    """Ingest order 0,100,40,90,200 (seconds): lateness = 0,0,60,10,0;
    sorted [0,0,0,10,60] -> p50 = 0, p95 = 60 (rank 5), none > 60."""
    import datetime as dt

    from tsmp_spark.operators.rollup import watermark_audit

    base = dt.datetime(2024, 1, 1)
    secs = [0, 100, 40, 90, 200]
    ev = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s), "k") for i, s in enumerate(secs)],
        "event_id long, ts timestamp, event_type string",
    )
    out = watermark_audit(ev).collect()
    r = out[0]
    assert (r.n, r.p50_late, r.p95_late, r.max_late) == (5, 0, 60, 60)
    assert r.n_over_60s == 0 and r.frac_over_60s == 0.0


def test_embedding_stats_hand_case(spark):
    from tsmp_spark.operators import embedding_stats

    emb = spark.createDataFrame(
        [(0, [1.0, -2.0]), (1, [3.0, 2.0])], "vec_id long, embedding array<float>"
    )
    out = {r.dim: r for r in embedding_stats(emb).collect()}
    assert out[1].n == 2 and out[1].mu == 2.0 and out[1].sd == 1.0
    assert out[1].vmin == 1.0 and out[1].vmax == 3.0
    assert out[2].mu == 0.0 and out[2].sd == 2.0


def test_ann_recall_audit_bounds(spark):
    """Recall is in [0,1], hit counts never exceed either leg, and on
    the sf0.001 embeddings the LSH path finds a nonzero fraction."""
    from tsmp_spark.operators import ann_recall_audit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ann_recall_audit(emb, max_query_id=8).collect()
    assert out
    for r in out:
        assert 0 <= r.n_hit <= min(r.n_exact, max(r.n_approx, 0))
        assert 0.0 <= r.recall <= 1.0
    assert sum(r.n_hit for r in out) > 0


def test_theil_sen_mk_grid_hot_bucket_bounded(spark):
    """Hot-bucket contract: 5000 raw rows in ONE (key, bucket) — the
    exact path would form 12.5M pairs; the grid path folds to <= 12
    cells first, so the fitted point count (n) is grid-bounded and the
    estimator matches a doc-by-doc numpy model bit-exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsmp_spark.operators.rollup import mann_kendall, theil_sen_trend

    rng = np.random.default_rng(11)
    n_raw = 5000
    sec = rng.integers(0, 21600, n_raw)  # one 6h bucket, key 1
    val = np.round(50 + 0.001 * sec + rng.normal(0, 5, n_raw), 3)
    pdf = pd.DataFrame({
        "user_id": np.ones(n_raw, dtype=np.int64),
        "sec": sec, "value": val,
        "event_id": np.arange(n_raw, dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)

    ts = theil_sen_trend(df, bucket_sec=21600, grid_sec=1800).collect()
    mk = mann_kendall(df, bucket_sec=21600, grid_sec=1800).collect()
    assert len(ts) == 1 and len(mk) == 1
    assert ts[0].n <= 12 and mk[0].n <= 12  # pair join input grid-bounded

    # numpy model of the grid estimator
    g = sec // 1800
    vu = np.round(val * 1e6).astype(np.int64)
    cells = pd.DataFrame({"g": g, "vu": vu}).groupby("g")["vu"].agg(
        ["sum", "count"]).reset_index().sort_values("g")
    x = (cells["g"] * 1800).to_numpy(float)
    v = cells["sum"].to_numpy(float) / (cells["count"].to_numpy(float) * 1e6)
    m = len(x)
    slopes = sorted((v[j] - v[i]) / (x[j] - x[i])
                    for i in range(m) for j in range(m) if x[i] < x[j])
    slope = slopes[(len(slopes) - 1) // 2]
    resid = np.sort(v - slope * x)
    icept = resid[(m - 1) // 2]
    assert ts[0].slope == slope and ts[0].intercept == icept

    mean = cells["sum"].to_numpy(np.int64) / cells["count"].to_numpy(np.int64)
    vg = np.where(mean >= 0, np.floor(mean + 0.5),
                  np.ceil(mean - 0.5)).astype(np.int64)
    S = sum(int(np.sign(vg[j] - vg[i]))
            for i in range(m) for j in range(i + 1, m))
    _, t = np.unique(vg, return_counts=True)
    var_s = (m * (m - 1) * (2 * m + 5)
             - int(np.sum(t * (t - 1) * (2 * t + 5)))) / 18.0
    assert mk[0].s == S and mk[0].var_s == var_s
    if var_s > 0:
        assert mk[0].z == (S - int(np.sign(S))) / np.sqrt(var_s)


def test_cosine_cross_decontamination_model_and_plan(spark):
    """Embedding decontamination: pair set == brute-force numpy at the
    raw-double threshold, and the plan broadcasts ONLY the bounded
    benchmark side (corpus streams map-only — zero corpus shuffle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsmp_spark.operators.similarity import cosine_cross_decontamination

    rng = np.random.default_rng(2)
    vecs = rng.normal(0, 1, (60, 16)).astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(60, dtype=np.int64), "embedding": list(vecs),
    })
    df = spark.createDataFrame(pdf)
    out = cosine_cross_decontamination(
        df.where(F.col("vec_id") % 5 != 0),
        df.where(F.col("vec_id") % 5 == 0),
        threshold=0.2,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange" not in plan.split("BroadcastExchange")[0]

    got = {(r.train_id, r.bench_id): r.cosine for r in out.collect()}
    v = vecs.astype(np.float64)
    exp = {}
    for a in range(60):
        if a % 5 == 0:
            continue
        for b in range(0, 60, 5):
            c = float(v[a] @ v[b]
                      / (np.sqrt((v[a] * v[a]).sum())
                         * np.sqrt((v[b] * v[b]).sum())))
            if c >= 0.2:
                exp[(a, b)] = c
    assert set(got) == set(exp)
    assert max(abs(got[k] - exp[k]) for k in exp) < 1e-12
