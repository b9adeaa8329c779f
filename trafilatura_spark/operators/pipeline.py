"""The Spark extraction operator: interleaved spans in → extracted spans out.

This is the engine's core physical operator (SURVEY.md §3.4): the whole
per-document cascade (§2.2-2.11) runs as ONE Arrow-vectorized
``mapInPandas`` stage — no per-row Python UDFs, no shuffle.  Catalyst
sees a narrow map over ``(doc_id, spans)``; everything relational around
it (salting, metrics, checkpoint anti-joins) stays JVM-side.

Scale design (SURVEY.md §4.3):
- **skew**: extraction cost ∝ document size; `salted_repartition`
  spreads docs round-robin by ``xxhash64(doc_id)`` so every task gets an
  i.i.d. cost mix regardless of input file layout;
- **memory**: each mapInPandas input batch closes at whichever comes
  first, ``spark.sql.execution.arrow.maxRecordsPerBatch`` (256 in
  ``job.make_session``) or the 64 MB
  ``spark.sql.execution.arrow.maxBytesPerBatch`` default, so multi-MB
  pages are already bounded by bytes and callers have nothing to
  hand-tune;
- **failure isolation**: a pathological document yields a
  ``status='error'`` row, never a task failure
  (/root/reference/lib/src/core.dart:333-335); with
  ``Options.doc_timeout_sec`` set, a document that exceeds its
  wall-clock budget yields a ``status='timeout'`` row the same way
  (watchdog.py) — speculation cannot rescue a deterministic stall.
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, functions as F, types as T

from ..core import bare_extraction
from ..settings import Options
from ..sources.corpus import INPUT_SPAN_TYPE, assemble_html

SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
])

META_TYPE = T.StructType([
    T.StructField(name, T.ArrayType(T.StringType()) if name in ("categories", "tags")
                  else T.StringType(), True)
    for name in ("title", "author", "url", "hostname", "description", "sitename",
                 "date", "categories", "tags", "fingerprint", "id", "license",
                 "language", "image", "pagetype", "filedate")
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("meta", META_TYPE, True),
    T.StructField("status", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("len_text", T.IntegerType(), False),
])

_META_FIELDS = [f.name for f in META_TYPE.fields]

# (column, SQL condition) of each per-document quality count, in the
# order the job's progress rows, extraction_metrics and the streaming
# windowed_extraction_metrics report them
QUALITY_COUNTS = (
    ("docs", "true"),
    ("fallback_docs", "tier IN ('baseline', 'readability', 'justext')"),
    ("empty_docs", "status = 'empty'"),
    ("error_docs", "status = 'error'"),
    ("timeout_docs", "status = 'timeout'"),
)


def quality_count_columns() -> list:
    """One ``count_if`` aggregate per :data:`QUALITY_COUNTS` entry."""
    return [F.expr(f"count_if({cond}) AS {name}")
            for name, cond in QUALITY_COUNTS]


def extracted_schema(serialize: str | None = None) -> T.StructType:
    """EXTRACTED_SCHEMA, plus a trailing ``serialized`` string column when
    an in-stage output format is requested."""
    if serialize is None:
        return EXTRACTED_SCHEMA
    return T.StructType(EXTRACTED_SCHEMA.fields
                        + [T.StructField("serialized", T.StringType(), True)])


def _result_row(doc_id: str, res) -> tuple:
    meta_row = None
    if res.meta is not None:
        meta_row = tuple(res.meta.get(k) for k in _META_FIELDS)
    return (
        doc_id,
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in res.spans],
        res.text or None,
        meta_row,
        res.status,
        res.tier,
        res.len_text,
    )


def make_extract_batches(options: Options, serialize: str | None = None):
    """Build the mapInPandas generator.  ``options`` is closure-captured:
    it ships once per task with the serialized function (the Spark analog
    of the reference's Extractor record, settings.dart:65-217).

    ``serialize`` renders each document's output tree to one of the
    reference's string formats (determineReturnString, core.dart:25-105)
    inside the SAME Arrow stage — the tree is already in hand here, so
    every format costs one extra string build per doc, no second pass
    and no extra shuffle."""
    from .serialize import plan_output_format
    opt_dict = asdict(plan_output_format(serialize, options))
    columns = ["doc_id", "spans", "text", "meta", "status", "tier",
               "len_text"] + (["serialized"] if serialize else [])

    def extract_batches(batches):
        import gc

        import pandas as pd

        from .serialize import determine_return_string
        from ..dom import Node

        opts = Options(**opt_dict)

        def extract_batch(pdf):
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_dicts = [s if isinstance(s, dict) else
                              dict(zip(INPUT_SPAN_TYPE.names, s)) for s in spans]
                html = assemble_html(span_dicts)
                # stringify: numeric doc_id inputs must still produce the
                # declared string column (and hash-bucket consistently)
                doc_id = str(doc_id)
                res = bare_extraction(html, opts, doc_id=doc_id)
                row = _result_row(doc_id, res)
                if serialize:
                    rendered = determine_return_string(
                        res.body if res.body is not None else Node("body"),
                        res.meta, serialize,
                        comments_body=res.commentsbody,
                        formatting=opts.formatting,
                        with_metadata=opts.with_metadata)
                    row = row + (rendered,)
                rows.append(row)
                del res  # the document's trees are all garbage now
                gc.collect(0)
            return pd.DataFrame(rows, columns=columns)

        # every tree is cyclic garbage (parent pointers): instead of
        # allocation-triggered collections, which re-traverse live trees
        # and the worker's long-lived heap, free each document's trees
        # with one young-generation pass once its row is built (outside
        # bare_extraction, so a per-layer trace counts it as overhead)
        was_enabled = gc.isenabled()
        gc.disable()
        try:
            for pdf in batches:
                yield extract_batch(pdf)
        finally:
            if was_enabled:
                gc.enable()

    return extract_batches


def salted_repartition(df: DataFrame, num_partitions: int,
                       key: str = "doc_id") -> DataFrame:
    """Explicit skew defense (SURVEY.md §4.3.1): round-robin by key hash so
    hot domains / giant documents don't cluster into one task."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key)))


def extract_documents(df: DataFrame, options: Options | None = None,
                      num_partitions: int | None = None,
                      serialize: str | None = None) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans, text, meta, status,
    tier, len_text[, serialized]).  One narrow Arrow stage; optional
    pre-salting; optional in-stage output-format rendering."""
    options = options or Options()
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return df.mapInPandas(make_extract_batches(options, serialize=serialize),
                          extracted_schema(serialize))


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition run metrics (north rule: docs processed, fallback rate,
    empty-extraction rate) — plain JVM-side aggregation."""
    return (
        extracted
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*quality_count_columns(),
             F.sum("len_text").alias("total_chars"))
        .withColumn("fallback_rate", F.col("fallback_docs") / F.col("docs"))
        .withColumn("empty_rate", F.col("empty_docs") / F.col("docs"))
    )
