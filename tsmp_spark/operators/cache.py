"""Scoped lifetimes for the state operators hold: pinned caches, per-round
checkpoints and scratch directories.

Several operators (shingle tables, MinHash signatures, LSH bucket keys,
IVF assignments) derive an expensive intermediate that both sides of a
self-join consume. Persisting it makes the derivation run once per
*action* instead of once per lineage branch — but a bare ``persist()``
inside a lazy operator leaks storage memory in a long-lived session,
because the operator never sees the action and so can never unpersist.

``pin()`` persists and registers the DataFrame; callers (pipelines,
benchmark/verify harnesses, tests) call :func:`release_caches` after the
terminal action to drop every pinned block. ``release_caches`` is
idempotent and safe to call with queries still lazy — Spark recomputes
an unpersisted plan transparently, so the worst case of an early release
is lost dedup, never a wrong answer. It also removes every
:func:`scratch_dir`, so call it only after the action that reads them.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []
_SCRATCH: list[str] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    df.persist()
    _PINNED.append(df)
    return df


def scratch_dir(prefix: str) -> str:
    """A fresh ``tsmp_<prefix>`` temp directory that :func:`release_caches`
    removes."""
    path = tempfile.mkdtemp(prefix=f"tsmp_{prefix}")
    _SCRATCH.append(path)
    return path


def release_caches() -> int:
    """Unpersist every pinned DataFrame and remove every scratch directory;
    returns how many DataFrames were released."""
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


class checkpoint_rounds:
    """Per-round ``localCheckpoint`` scope for iterative operators: the
    plan stays O(1) deep however many rounds run.

        with checkpoint_rounds() as ckpt:
            cur = ckpt(seed)
            for _ in range(rounds):
                cur = ckpt(step(cur))
            return ckpt.result(finish(cur))

    On exit every block the scope created is freed except the result's;
    if the body raises, the result's goes too (``Dataset.unpersist`` does
    not reach localCheckpoint RDDs). Only the EXACT RDD ids this scope
    created are freed — diffing the context-wide persistent set would
    also free a concurrent caller's blocks, unrecoverably, since
    localCheckpoint truncates lineage.
    """

    def __init__(self) -> None:
        self._sc = None
        self._ids: list[int] = []
        self._kept = -1

    def __enter__(self) -> checkpoint_rounds:
        return self

    def __call__(self, df: DataFrame) -> DataFrame:
        out = df.localCheckpoint()
        self._sc = df.sparkSession.sparkContext
        try:
            self._ids.append(int(out._jdf.queryExecution().analyzed().rdd().id()))
        except Exception:
            self._ids.append(-1)  # unknown id: leak this block rather than guess
        return out

    def result(self, df: DataFrame) -> DataFrame:
        out = self(df)
        self._kept = self._ids.pop()
        return out

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._ids.append(self._kept)
        if self._sc is None:
            return
        jmap = self._sc._jsc.getPersistentRDDs()
        for rid in self._ids:
            jrdd = jmap.get(rid) if rid >= 0 else None
            if jrdd is not None:  # None: already cleaned by ContextCleaner
                jrdd.unpersist()
