"""The persistent signature store behind incremental minhash dedup.

A store directory holds two parquet tables: ``docs/`` with the accepted
``(id, text)`` rows and ``sigs/`` with their
:func:`~.dedup.minhash_signatures`.  The batch job (``job.py --mode
dedup --signature-store``) and the streaming ``foreachBatch`` writer
(``streaming/dedup_stream.py``) run the same protocol over it, so batch
and streaming ingestion interleave freely over one store:

1. :func:`plan_store_batch` opens the store and plans the batch.  Only
   a PATH_NOT_FOUND ``docs/`` bootstraps the store; any other read
   failure (corrupt footer, permissions, a directory of non-parquet
   files) propagates, because bootstrapping over an existing store
   would re-admit every duplicate.  A ``docs/`` without ``sigs/`` (torn
   by an older docs-first writer, or hand-deleted) is healed by signing
   ``docs/`` once: matching against no signatures would admit every
   duplicate of the stored docs.  Batch ids the store already holds are
   dropped (a replayed batch), and the rest is deduplicated against the
   store, or within itself when it bootstraps the store.
2. :func:`append_to_store` signs the accepted rows on bootstrap, drops
   signature rows the store already holds, and appends ``sigs/`` and
   THEN ``docs/``.

That order keeps both tables exactly-once at id level across every
crash window.  A crash between the two appends leaves sigs without
docs: the re-run finds its ids absent from ``docs/``, deduplicates them
again, and its sigs append skips the rows already present.  The reverse
order would strand docs without sigs: the re-run drops those ids as
already stored, their signatures never land, and later duplicates of
them are silently admitted.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import dedup_corpus, dedup_corpus_incremental, minhash_signatures


class StorePlan(NamedTuple):
    store_docs: DataFrame | None  # None: the batch bootstraps the store
    accepted: DataFrame
    labels: DataFrame  # persisted; the caller unpersists it
    new_sigs: DataFrame | None  # None on bootstrap: append_to_store signs


def _is_path_not_found(exc) -> bool:
    """True iff an AnalysisException is specifically PATH_NOT_FOUND.
    Uses the error-condition API (getCondition, falling back to the
    deprecated getErrorClass) so e.g. UNABLE_TO_INFER_SCHEMA over an
    existing-but-unreadable store is NOT mistaken for a missing one."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:  # noqa: BLE001 - fall through to str probe
                continue
            if cond is not None:
                return cond == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc)


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if not _is_path_not_found(exc):
            raise
        return None


def _sign(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return minhash_signatures(
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0)),
        id_col, text_col)


def plan_store_batch(batch: DataFrame, store_dir: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     threshold: float = 0.5,
                     max_bucket_size: int | None = None) -> StorePlan:
    """Dedup ``batch`` against the store at ``store_dir`` (step 1).
    Writes nothing, except the one-time ``sigs/`` heal of a torn store."""
    spark = batch.sparkSession
    store_docs = _read_if_exists(spark, os.path.join(store_dir, "docs"))
    if store_docs is None:
        accepted, labels = dedup_corpus(
            batch, id_col=id_col, text_col=text_col, strategy="minhash",
            threshold=threshold, max_bucket_size=max_bucket_size)
        return StorePlan(None, accepted, labels, None)
    sigs_path = os.path.join(store_dir, "sigs")
    store_sigs = _read_if_exists(spark, sigs_path)
    if store_sigs is None:
        _sign(store_docs, id_col, text_col).write.parquet(sigs_path)
        store_sigs = spark.read.parquet(sigs_path)
    batch = batch.join(store_docs.select(id_col), id_col, "left_anti")
    accepted, labels, new_sigs = dedup_corpus_incremental(
        batch, store_docs, store_sigs, id_col=id_col, text_col=text_col,
        threshold=threshold, max_bucket_size=max_bucket_size)
    return StorePlan(store_docs, accepted, labels, new_sigs)


def append_to_store(store_dir: str, accepted: DataFrame,
                    new_sigs: DataFrame | None = None,
                    id_col: str = "doc_id", text_col: str = "text") -> None:
    """Append ``accepted`` and its signatures to the store (step 2).
    ``new_sigs`` is the plan's; ``None`` (bootstrap) signs ``accepted``."""
    sigs_path = os.path.join(store_dir, "sigs")
    if new_sigs is None:
        new_sigs = _sign(accepted, id_col, text_col)
    stored = _read_if_exists(accepted.sparkSession, sigs_path)
    if stored is not None:
        new_sigs = new_sigs.join(stored.select(id_col).distinct(), id_col,
                                 "left_anti")
    new_sigs.write.mode("append").parquet(sigs_path)
    accepted.select(id_col, text_col).write.mode("append") \
        .parquet(os.path.join(store_dir, "docs"))
