"""Checkpoint/resume with lineage+metrics, and the training-data pipeline
operators (dedup / similarity / text) — semantic smoke + invariants.
(Exact value parity with SQL is covered by verify_local.py / the driver's
DuckDB oracle; these tests check behavior.)"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from tsmp_spark.jobs import CheckpointedJob


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


def test_checkpoint_resume(spark, tmp_path):
    base = str(tmp_path / "job")
    df = spark.range(100).select(F.col("id").cast("string").alias("doc_id"), F.col("id"))

    calls = []

    def transform(part):
        calls.append(1)
        return part.withColumn("out", F.col("id") * 2)

    job = CheckpointedJob(spark=spark, base_dir=base, n_parts=4)
    out1 = job.run(df, transform)
    assert out1.count() == 100
    assert len(calls) == 4
    # resume: nothing left to do, transform never called again
    out2 = job.run(df, transform)
    assert out2.count() == 100
    assert len(calls) == 4
    m = job.metrics().toPandas()
    assert len(m) == 4
    assert set(m.part_id) == {0, 1, 2, 3}
    assert (m.rows > 0).all() and (m.wall_sec > 0).all()


def test_checkpoint_partial_interrupt(spark, tmp_path):
    """Interrupt after 2 parts → rerun completes only the missing 2 —
    the reference's anytime/partial-results contract (mpx.cpp:76-79)."""
    base = str(tmp_path / "job2")
    df = spark.range(40).select(F.col("id").cast("string").alias("doc_id"), F.col("id"))

    state = {"n": 0}

    def failing(part):
        if state["n"] >= 2:
            raise RuntimeError("simulated interrupt")
        state["n"] += 1
        return part.withColumn("out", F.col("id") + 1)

    job = CheckpointedJob(spark=spark, base_dir=base, n_parts=4)
    with pytest.raises(RuntimeError):
        job.run(df, failing)
    assert len(job.completed_parts()) == 2

    def ok(part):
        return part.withColumn("out", F.col("id") + 1)

    out = job.run(df, ok)
    assert out.count() == 40
    assert len(job.completed_parts()) == 4


def test_assemble_job_resume_equals_direct_pack(spark, docs, tmp_path):
    """submit_job --job assemble: source-grouped checkpoint parts pack
    identically to a single global pack_sequences run (resume cannot
    move a sequence boundary), and an interrupted run resumes to the
    same output."""
    import submit_job
    from tsmp_spark.operators import pack_sequences, tokenize_documents

    out = str(tmp_path / "assemble")
    rc = submit_job.main(
        [
            "--job", "assemble", "--input", f"{SF_SMOKE}/documents.parquet",
            "--output", out, "--seq-len", "64", "--n-parts", "4",
        ]
    )
    assert rc == 0
    got = (
        spark.read.parquet(f"{out}/packed/output")
        .select("source", "seq_idx", "tokens")
        .collect()
    )
    direct = (
        pack_sequences(tokenize_documents(docs, append_eos=32768), seq_len=64)
        .select("source", "seq_idx", "tokens")
        .collect()
    )
    key = lambda r: (r.source, r.seq_idx)
    assert sorted([(r.source, r.seq_idx, r.tokens) for r in got]) == sorted(
        [(r.source, r.seq_idx, r.tokens) for r in direct]
    )
    # resume: second invocation does no new work (manifest already full)
    job = CheckpointedJob(
        spark=spark, base_dir=f"{out}/packed", n_parts=4, key_col="source"
    )
    assert len(job.completed_parts()) == 4


def test_exact_dedup_finds_planted_dup(spark, docs):
    from tsmp_spark.operators import exact_dedup

    two = docs.limit(1).select(F.lit(9001).alias("doc_id"), "text", "lang", "source", "n_chars")
    with_dup = docs.unionByName(two)
    groups = exact_dedup(with_dup)
    assert groups.filter(F.col("dup_count") >= 2).count() >= 1
    assert groups.count() == docs.select("text").distinct().count()


def test_minhash_lsh_detects_near_dup(spark, docs):
    from tsmp_spark.operators import minhash_lsh_pairs

    base = docs.limit(5).select("doc_id", "text")
    # near-duplicate: append two words to a copy
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    both = base.unionByName(near)
    pairs = minhash_lsh_pairs(both, num_hashes=16, bands=8, threshold=0.3).toPandas()
    found = set(zip(pairs.doc_a, pairs.doc_b))
    ids = [r.doc_id for r in base.collect()]
    hits = sum((i, i + 10000) in found for i in ids)
    assert hits >= 4  # LSH is probabilistic; 16 hashes catch ~all 5


def test_simhash_similar_docs_close(spark, docs):
    from tsmp_spark.operators import simhash64

    base = docs.limit(3).select("doc_id", "text")
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    sh = simhash64(base.unionByName(near)).toPandas().set_index("doc_id")

    def hamming(a, b):
        return bin((int(a) ^ int(b)) & 0xFFFFFFFF).count("1")

    for i in [r.doc_id for r in base.collect()]:
        d_near = hamming(sh.loc[i].simhash_lo, sh.loc[i + 10000].simhash_lo) + hamming(
            sh.loc[i].simhash_hi, sh.loc[i + 10000].simhash_hi
        )
        assert d_near <= 12  # near-dup → small hamming distance


def test_cosine_topk_self_similarity(spark):
    from tsmp_spark.operators import cosine_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # plant an exact duplicate vector with a new id
    dup = emb.limit(1).select(F.lit(99999).cast("long").alias("vec_id"), "embedding", "label")
    out = cosine_topk(emb.unionByName(dup), emb.limit(1), k=1).collect()
    assert out[0].neighbor_id == 99999
    assert out[0].cosine == pytest.approx(1.0, abs=1e-9)


def test_lsh_ann_recall_vs_exact(spark):
    from tsmp_spark.operators import cosine_topk, lsh_bucket_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 30), k=1).toPandas()
    approx = lsh_bucket_topk(emb, k=1, n_planes=3, n_tables=6).toPandas()
    approx = approx[approx.query_id < 30]
    merged = exact.merge(approx, on="query_id", suffixes=("_e", "_a"))
    recall = (merged.neighbor_id_e == merged.neighbor_id_a).mean()
    assert recall >= 0.6  # multi-table LSH: 6 tables × 8 buckets (meas. 0.8)


def test_multimodal_plumbing(spark):
    from tsmp_spark.operators import extract_features, frame_sample

    media = spark.createDataFrame(
        [("m1", "image", bytearray(range(256)) * 4, {"fmt": "fake"})],
        "media_id string, kind string, payload binary, meta map<string,string>",
    )
    feats = extract_features(media).collect()
    assert len(feats) == 1
    assert len(feats[0].features) == 16
    assert feats[0].n_bytes == 1024
    frames = frame_sample(media, every_n=4).collect()
    assert len(frames) >= 2
    # empty payload must not crash the worker (zero-padded 1x1 grid)
    empty = spark.createDataFrame(
        [("m0", "image", bytearray(b""), {"fmt": "fake"})],
        "media_id string, kind string, payload binary, meta map<string,string>",
    )
    row = extract_features(empty).collect()[0]
    assert (row.width, row.height, row.n_bytes) == (1, 1, 0)


def test_multimodal_decoder_seam(monkeypatch):
    """The Pillow seam: with no Pillow (container default) and with a
    Pillow whose open() rejects the payload, the deterministic fake grid
    is identical — the oracle stays green in both modes. A Pillow that
    does decode takes priority."""
    import numpy as np

    from tsmp_spark.operators import multimodal as mm

    payload = bytes(range(256)) * 4
    base = mm._decode_image(payload)  # _PILImage is None in this container

    class _RejectingPIL:
        @staticmethod
        def open(buf):
            raise OSError("cannot identify image file")

    monkeypatch.setattr(mm, "_PILImage", _RejectingPIL)
    np.testing.assert_array_equal(mm._decode_image(payload), base)

    class _FakeImg:
        def convert(self, mode):
            return np.full((4, 4), 7, dtype=np.uint8)

    class _DecodingPIL:
        @staticmethod
        def open(buf):
            return _FakeImg()

    monkeypatch.setattr(mm, "_PILImage", _DecodingPIL)
    out = mm._decode_image(payload)
    assert out.shape == (4, 4) and (out == 7).all()


def test_text_quality_and_lang(spark, docs):
    from tsmp_spark.operators import lang_scores, quality_score

    q = quality_score(docs).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1)).all()
    l = lang_scores(docs).toPandas()
    assert set(l.lang_pred).issubset({"de", "en", "es", "fr"})


def test_connected_components_chain(spark):
    """A chain is the adversarial case for naive min-propagation
    (O(diameter) rounds); alternating star collapses it in O(log n)."""
    from tsmp_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)] + [(200, 201), (203, 201), (205, 203)],
        "doc_a long, doc_b long",
    )
    cc = connected_components(edges).toPandas()
    by_node = dict(zip(cc.node, cc.component))
    assert all(by_node[i] == 0 for i in range(61))
    assert all(by_node[i] == 200 for i in (200, 201, 203, 205))


def test_dedup_groups_transitive(spark):
    """A~B and B~C must land in ONE group even if A~C was never a
    candidate pair — the reason groups need components, not pairs."""
    import pandas as pd

    from tsmp_spark.operators import dedup_groups

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 50],
                "text": [
                    base + " alpha beta gamma delta",
                    base + " alpha beta gamma epsilon",   # ~doc1
                    base + " alpha beta zeta epsilon",    # ~doc2, farther from doc1
                    "completely different content about spark shuffles and joins",
                ],
            }
        )
    )
    g = dedup_groups(docs, num_hashes=16, bands=8, threshold=0.3).toPandas()
    by = dict(zip(g.doc_id, g.keep_id))
    assert by[1] == 1 and by[2] == 1 and by[3] == 1  # one transitive group
    assert by[50] == 50 and not g[g.doc_id == 50].is_dup.iloc[0]


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _cc(spark):
    from tsmp_spark.operators import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "doc_a long, doc_b long")
    return connected_components(edges), 31


def _kcore(spark):
    from tsmp_spark.operators import kcore_peel

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long")
    return kcore_peel(edges, k=2, rounds=4), 5


def _lpa(spark):
    from tsmp_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        "src string, dst string",
    )
    return label_propagation(edges, rounds=2), 6


def _mmr(spark):
    from tsmp_spark.operators import mmr_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.04471, 0.0]), (2, [0.998, 0.0632, 0.0]),
         (3, [0.5, 0.0, 0.866])],
        "vec_id long, embedding array<float>",
    )
    return mmr_topk(emb, emb.filter(F.col("vec_id") == 0), k=2, pool=3), 2


@pytest.mark.parametrize(
    "build", [_cc, _kcore, _lpa, _mmr],
    ids=["connected_components", "kcore_peel", "label_propagation", "mmr_topk"],
)
def test_iterative_operators_free_round_checkpoints(spark, build):
    """Every per-round localCheckpoint block is freed before return —
    only the result's own checkpoint survives (Dataset.unpersist does
    NOT free localCheckpoint RDDs; cache.checkpoint_rounds frees them
    via the block manager)."""
    from tsmp_spark.operators.cache import release_caches

    release_caches()
    before = _persistent_ids(spark)
    out, rows = build(spark)
    assert out.count() == rows
    release_caches()  # pins taken by sub-operators (cosine_topk)
    assert len(_persistent_ids(spark) - before) <= 1  # the result's checkpoint


@pytest.mark.parametrize("keep_result", [False, True])
def test_checkpoint_rounds_frees_all_on_error(spark, keep_result):
    """A round that raises frees every block the scope created, the
    result's included, leaving the persistent set exactly as before."""
    from tsmp_spark.operators.cache import checkpoint_rounds

    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="round failed"):
        with checkpoint_rounds() as ckpt:
            cur = ckpt(spark.range(10))
            cur = ckpt(cur.select((F.col("id") * 2).alias("id")))
            if keep_result:
                ckpt.result(cur.filter(F.col("id") > 4))
            assert len(_persistent_ids(spark) - before) >= 2
            raise RuntimeError("round failed")
    assert _persistent_ids(spark) == before


def test_scratch_dirs_removed_by_release_caches(spark):
    """The block store of mp_chunked_store and the replay dir of
    sessions_stream are scratch dirs: nothing tsmp_-prefixed of theirs
    is left in the temp dir once release_caches() runs."""
    import os
    import tempfile

    from tsmp_spark.operators.cache import release_caches
    from tsmp_spark.queries import QUERIES

    def tsmp_dirs():
        tmp = tempfile.gettempdir()
        return {n for n in os.listdir(tmp) if n.startswith("tsmp_")}

    before = tsmp_dirs()
    assert QUERIES["mp_chunked_store"](spark, SF_SMOKE).count() > 0
    QUERIES["sessions_stream"](spark, SF_SMOKE)
    assert len(tsmp_dirs() - before) >= 2  # one scratch dir per builder
    release_caches()
    assert tsmp_dirs() - before == set()


def test_decontaminate_ignores_blank_docs(spark):
    """Blank/whitespace docs carry no shingles — they must not match
    each other (the [''] padded-shingle artifact, oracle parity)."""
    from tsmp_spark.operators import decontaminate

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text with actual shingle words here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, ""), (101, "actual shingle words")], "bench_id long, text string"
    )
    out = decontaminate(docs, bench, n=3, min_hits=1).collect()
    assert all(r.doc_id == 3 for r in out)  # only the real overlap
