"""Structured Streaming corpus dedup against a persistent store.

The continuous-ingestion shape end-to-end: document drops land as
files, and each micro-batch runs the signature-store protocol of
:mod:`trafilatura_spark.functions.signature_store` (the one the batch
job's ``--mode dedup --signature-store`` runs): it is deduplicated AGAINST
the store, paying signature cost for the batch only, and its survivors
append to the output table and then to the store, so the NEXT
micro-batch sees them.  Cross-batch state lives in the store parquet,
not in Spark streaming state.

Delivery semantics: foreachBatch is at-least-once, and the store
protocol makes a replay safe.  A re-delivered micro-batch drops the ids
the store's docs/ already holds and skips signature rows already
stored, so both store tables stay exactly-once at id level.  Only the
OUTPUT, written first, may carry duplicate rows for a replayed batch;
downstream readers that care should dedup by id, or read the store's
docs/ table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEDUP_STREAM_SCHEMA = "doc_id long, text string"


def read_text_stream(spark: SparkSession, input_path: str,
                     schema: str = DEDUP_STREAM_SCHEMA,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of (doc_id, text) parquet drops."""
    return (
        spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def make_dedup_batch_fn(output_path: str, store_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        threshold: float = 0.5,
                        max_bucket_size: int | None = None):
    """foreachBatch callback: dedup the micro-batch vs the store,
    append survivors to ``output_path`` and to the store."""
    from ..functions.signature_store import append_to_store, plan_store_batch

    def _process(batch: DataFrame, batch_id: int) -> None:
        plan = plan_store_batch(batch, store_dir, id_col, text_col,
                                threshold, max_bucket_size)
        # accepted has two writers (output, store docs).  persist() is
        # NOT enough here: the docs append fires refreshByPath on
        # docs_path, which invalidates any cached plan that reads it —
        # accepted's lineage does (the replay anti-join) — so a later
        # write would recompute against a docs listing that already
        # contains this batch and anti-join its own rows away.
        # localCheckpoint truncates the lineage to a leaf, immune to
        # the refresh, and runs the pair pipeline exactly once.
        accepted = plan.accepted.localCheckpoint(eager=True)
        accepted.write.mode("append").parquet(output_path)
        append_to_store(store_dir, accepted, plan.new_sigs, id_col, text_col)
        plan.labels.unpersist()

    return _process


def start_dedup_stream(spark: SparkSession, input_path: str,
                       output_path: str, checkpoint_path: str,
                       store_dir: str, id_col: str = "doc_id",
                       text_col: str = "text",
                       schema: str = DEDUP_STREAM_SCHEMA,
                       threshold: float = 0.5,
                       max_bucket_size: int | None = None,
                       max_files_per_trigger: int = 8,
                       available_now: bool = False):
    """Wire source → foreachBatch dedup-vs-store → output + store.
    ``available_now=True`` drains the backlog and stops (how tests and
    catch-up runs drive it)."""
    stream = read_text_stream(spark, input_path, schema,
                              max_files_per_trigger)
    writer = (
        stream.writeStream
        .foreachBatch(make_dedup_batch_fn(output_path, store_dir,
                                          id_col, text_col, threshold,
                                          max_bucket_size))
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
