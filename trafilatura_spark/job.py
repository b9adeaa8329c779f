"""Batch extraction job: read → salt → extract → write, resumable.

The north rule's job shell (SURVEY.md §3.4): reads the interleaved
documents table, runs the extraction operator, writes the extracted span
table plus a per-partition progress table carrying lineage + metrics so
an interrupted run resumes from the last committed bucket.

Checkpoint model: documents are assigned a stable ``bucket =
pmod(xxhash64(doc_id), n_buckets)``.  Buckets are processed in waves;
after each wave the output is written (partitioned by bucket) and one
progress row per bucket is appended ``(run_id, bucket, docs,
fallback_docs, empty_docs, error_docs, timeout_docs, fallback_rate, empty_rate,
committed_at)``.  A restarted run anti-joins committed buckets and only
processes the remainder.  On Iceberg the output+progress appends are
snapshot-atomic; on plain parquet the progress append is the commit
point and a torn wave is simply re-run (extraction is deterministic and
idempotent per doc_id).

The per-wave commit runs no Python on the cluster and few py4j calls:
the per-bucket counts are ``count_if`` aggregates parsed from fixed SQL
templates over the integer bucket id (one ``F.expr`` call each, where a
Column tree costs a py4j round trip per operator), and the progress
rows reach the JVM as a ``pyarrow.Table``, which becomes a
``LocalRelation``.  Rows handed over as Python tuples become a
``LogicalRDD`` instead, and every append would run a Python-worker job
just to unpickle a handful of rows.

Run via::

    spark-submit --py-files trafilatura_spark.zip -m trafilatura_spark.job \
        --input /data/documents --output /out/extracted \
        --progress /out/progress --run-id run1
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from .operators.pipeline import (QUALITY_COUNTS, extracted_schema,
                                 make_extract_batches, salted_repartition)
from .operators.serialize import ALL_FORMATS
from .settings import Options


def make_session(app_name: str = "trafilatura-spark", master: str | None = None,
                 shuffle_partitions: int = 32,
                 arrow_batch: int = 256) -> SparkSession:
    """Session with the engine's scale defaults: AQE on (runtime skew
    re-splits), speculative execution (straggler defense, SURVEY.md
    §4.3.4), and small Arrow batches (§4.3.2): each mapInPandas input
    batch closes at whichever comes first, ``arrow_batch`` records
    (``maxRecordsPerBatch``, 256 here) or Spark's 64 MB
    ``maxBytesPerBatch`` default, so multi-MB pages are already bounded
    by bytes and callers have nothing to hand-tune."""
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    return (
        b.config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.speculation", "true")
        .getOrCreate()
    )


def read_html_dir(spark: SparkSession, input_path: str,
                  glob: str = "*.html") -> DataFrame:
    """Directory of raw HTML files → documents(doc_id, spans).

    The Spark analog of the reference CLI's --input-dir mode
    (cli_utils.dart:270-360): binaryFile scan → decode (gzip/zlib +
    encoding cascade) → one single-chunk span per file."""
    from .sources.corpus import DOCUMENTS_SCHEMA, single_html_span
    from .sources.loading import decode_file

    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", glob)
              .load(input_path)
              .select("path", "content"))

    def to_docs(batches):
        import pandas as pd
        for pdf in batches:
            rows = [(path, single_html_span(decode_file(bytes(content))))
                    for path, content in zip(pdf["path"], pdf["content"])]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return binary.mapInPandas(to_docs, DOCUMENTS_SCHEMA)


_PROGRESS_SCHEMA = StructType(
    [StructField("run_id", StringType()), StructField("bucket", IntegerType())]
    + [StructField(c, LongType()) for c, _ in QUALITY_COUNTS]
    + [StructField("fallback_rate", DoubleType()),
       StructField("empty_rate", DoubleType()),
       StructField("lineage", StringType()),
       StructField("n_buckets", IntegerType())])


def _progress_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Progress rows (in ``_PROGRESS_SCHEMA`` order) plus ``committed_at``.
    Built from a ``pyarrow.Table`` so the plan is a JVM-local
    ``LocalRelation`` whatever the Arrow conf says: tuples (or pandas
    with Arrow off) would give a ``LogicalRDD`` whose every use runs a
    Python-worker job."""
    import pyarrow as pa
    names = _PROGRESS_SCHEMA.names
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows])
    return (spark.createDataFrame(table, schema=_PROGRESS_SCHEMA)
            .withColumn("committed_at", F.current_timestamp()))


def _scrub_uncommitted(spark: SparkSession, output_path: str,
                       pending: list[int]) -> int:
    """Delete output partitions of buckets with NO progress row: a crash
    between the output append and the progress append leaves a torn wave,
    and re-running it would otherwise duplicate rows.  (On Iceberg the
    two appends share one snapshot commit and this is a no-op.)

    One glob of ``bucket={<pending ids>}`` finds them all: a single
    listing (one request on object stores) instead of an ``exists()``
    per pending bucket.  Glob metacharacters in ``output_path`` are
    escaped so the pattern can only match under that directory."""
    if not pending:
        return 0
    literal = re.sub(r"([\\*?\[\]{}])", r"\\\1", output_path)
    ids = ",".join(map(str, pending))
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        f"{literal}/bucket={{{ids}}}")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    torn = fs.globStatus(pattern) or []
    for status in torn:
        fs.delete(status.getPath(), True)
    return len(torn)


def _progress_exists(spark: SparkSession, progress_path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(progress_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _committed_buckets(spark: SparkSession, progress_path: str,
                       n_buckets: int) -> set[int]:
    """Committed buckets from the progress table.  ONLY a genuinely
    absent path counts as a fresh run — any other read failure must
    propagate: treating a transient progress-read error as 'nothing
    committed' would let the torn-wave scrub delete committed output.
    A recorded n_buckets different from the current run is a hard error
    (the doc-to-bucket mapping would no longer match the checkpoint)."""
    if not _progress_exists(spark, progress_path):
        return set()
    pdf = spark.read.parquet(progress_path)
    if "n_buckets" in pdf.columns:
        prior = {r["n_buckets"] for r in
                 pdf.select("n_buckets").distinct().collect()}
        if prior and prior != {n_buckets}:
            raise ValueError(
                f"progress table at {progress_path} was written with "
                f"n_buckets={sorted(prior)}; resuming with "
                f"n_buckets={n_buckets} would corrupt the checkpoint")
    return {r["bucket"] for r in pdf.select("bucket").distinct().collect()}


def run_extraction(spark: SparkSession, documents: DataFrame, output_path: str,
                   progress_path: str, run_id: str = "run0",
                   options: Options | None = None, n_buckets: int = 16,
                   wave_size: int = 8, tasks_per_wave: int | None = None,
                   lineage: str | None = None,
                   serialize: str | None = None,
                   batches_fn=None,
                   lang_filter: str | None = None) -> dict:
    """Resumable batch extraction.  Returns run summary metrics.

    ``n_buckets`` is the checkpoint granularity (at 100 TB: hundreds —
    each bucket is one recoverable unit of work); ``wave_size`` buckets
    are processed per commit; ``tasks_per_wave`` controls the salted
    repartition width (default: cluster default parallelism).
    ``batches_fn`` swaps the per-wave mapInPandas extractor (default:
    the HTML cascade) for another EXTRACTED_SCHEMA producer — e.g.
    sources.pdf.make_pdf_batches for PDF corpora.  ``serialize`` adds
    the in-stage rendered output format (make_extract_batches); custom
    producers build no extraction tree, so the two are exclusive.
    ``lang_filter`` (opt-in, the job's --lang-filter) drops 'ok' docs
    whose EXTRACTED text the stopword classifier
    (functions/textstats.lang_id) assigns to a different language — an
    extension past the reference's always-accept languageFilter stub
    (utils.dart:452-472), whose --target-lang gates on HTML metadata
    only.  Pure JVM column expressions appended to the extraction
    stage: no extra shuffle, no extra pass.
    The summary's ``write_s`` and ``progress_s`` are the run's seconds
    in the output writes and in the per-bucket metrics + progress
    appends, so the commit path's cost shows in every run.
    """
    if serialize and batches_fn is not None:
        raise ValueError(
            f"--serialize {serialize} renders from the extraction tree "
            "and is only available with the default HTML extractor; "
            "custom batch producers have no tree to render")
    options = options or Options()
    if lineage is None:
        # default lineage: the scanned input files (for provenance audits)
        try:
            lineage = ";".join(sorted(documents.inputFiles())[:20])
        except Exception:
            lineage = "unknown"
    # hash the STRING form: the extractor output stringifies doc_id, and the
    # output side recomputes the bucket from it — hashing a numeric input
    # directly would bucket input and output rows differently (wrong wave
    # metrics + torn-wave scrub deleting still-pending partitions)
    bucket_col = F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                        F.lit(n_buckets)).cast("int")
    docs = documents.withColumn("bucket", bucket_col)

    done = _committed_buckets(spark, progress_path, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    # unconditional: a crash during the FIRST wave leaves orphan output
    # partitions with an empty progress table; the glob matches nothing
    # on a genuinely fresh run
    scrubbed = _scrub_uncommitted(spark, output_path, pending)
    summary = {"run_id": run_id, "resumed_buckets": len(done),
               "scrubbed_torn_buckets": scrubbed,
               "processed_buckets": 0, "docs": 0, "waves": 0,
               "write_s": 0.0, "progress_s": 0.0}

    if tasks_per_wave is None:
        tasks_per_wave = spark.sparkContext.defaultParallelism

    extract_fn = batches_fn if batches_fn is not None \
        else make_extract_batches(options, serialize=serialize)
    schema = extracted_schema(serialize)
    for i in range(0, len(pending), wave_size):
        wave = pending[i:i + wave_size]
        wave_src = docs.filter(F.col("bucket").isin(wave))
        # salted round-robin inside the wave: i.i.d. cost mix per task
        extracted = (salted_repartition(wave_src, tasks_per_wave)
                     .mapInPandas(extract_fn, schema)
                     .withColumn("bucket", bucket_col))
        if lang_filter:
            # every --serialize format renders inside the extraction
            # stage, so the rows this filter drops are rendered too (the
            # filter reads only spans/status)
            from .functions.textstats import lang_id
            joined = F.array_join(
                F.transform("spans", lambda s: s["text"]), " ")
            extracted = (
                lang_id(extracted.withColumn("_lf_text", joined),
                        text_col="_lf_text", out_col="_lf_lang")
                .filter((F.col("status") != "ok")
                        | (F.col("_lf_lang") == lang_filter))
                .drop("_lf_text", "_lf_lang"))
        # per-bucket metrics ride the write itself as observe() accumulator
        # expressions (5 per bucket in the wave) — ONE pass over the data;
        # naive re-reads of the whole output table would be a full second
        # scan of everything written at 100 TB.  Each metric is a
        # count_if parsed from a fixed SQL template over the integer
        # bucket id: one py4j call per expression, where a Column tree
        # pays a round trip (with call-site capture) per col/==/&/cast/
        # sum/alias and took longer to build than the wave plan itself.
        # Only integer bucket ids are formatted into the QUALITY_COUNTS
        # conditions, so no user data reaches SQL text.
        obs = Observation(f"wave-{i // wave_size}")
        observed = extracted.observe(obs, *[
            F.expr(f"count_if(bucket = {b} AND {cond}) AS {name}_{b}")
            for b in wave for name, cond in QUALITY_COUNTS])
        t0 = time.perf_counter()
        observed.write.mode("append").partitionBy("bucket").parquet(output_path)
        summary["write_s"] += time.perf_counter() - t0

        t0 = time.perf_counter()
        vals = obs.get
        rows = []
        for b in wave:
            n_docs, n_fb, n_empty, n_err, n_to = (
                int(vals[f"{name}_{b}"]) for name, _ in QUALITY_COUNTS)
            rows.append((run_id, b, n_docs, n_fb, n_empty, n_err, n_to,
                         n_fb / n_docs if n_docs else 0.0,
                         n_empty / n_docs if n_docs else 0.0,
                         lineage, n_buckets))
        # one file per wave: a LocalRelation scan would otherwise split
        # a wave's few rows over defaultParallelism tasks and files
        (_progress_frame(spark, rows).coalesce(1)
         .write.mode("append").parquet(progress_path))
        summary["progress_s"] += time.perf_counter() - t0
        summary["processed_buckets"] += len(wave)
        summary["docs"] += sum(r[2] for r in rows)
        summary["waves"] += 1
    for k in ("write_s", "progress_s"):
        summary[k] = round(summary[k], 3)
    return summary


def main(argv: list[str] | None = None, *, transport=None) -> int:
    """CLI entry point.  `transport` is a test seam for --mode crawl: a
    callable with the sources.downloads transport signature replacing the
    live stdlib HTTP transport, so e2e tests can drive the full
    seeds->robots->fetch->extract->write path against a fixture site."""
    p = argparse.ArgumentParser(description="trafilatura-spark batch extraction")
    p.add_argument("--input", default=None,
                   help="parquet/iceberg path of documents(doc_id, spans), "
                        "or a directory of raw HTML files with "
                        "--input-format html-dir (required for every mode "
                        "except crawl)")
    p.add_argument("--input-format", default="spans-parquet",
                   choices=["spans-parquet", "html-dir", "pdf-parquet",
                            "warc", "table"],
                   help="'table' reads --input as a catalog table "
                        "identifier (spark.read.table) — with an Iceberg "
                        "catalog configured on the cluster this is the "
                        "north rule's Iceberg scan (snapshot isolation, "
                        "partition pruning, metadata-only planning); "
                        "locally it resolves through the session catalog")
    p.add_argument("--output", required=True)
    p.add_argument("--progress", default=None,
                   help="progress/checkpoint table path (required for "
                        "--mode extract; unused by the discovery modes)")
    p.add_argument("--run-id", default=f"run-{int(time.time())}")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--wave-size", type=int, default=16)
    p.add_argument("--fast", action="store_true")
    p.add_argument("--focus", default="balanced",
                   choices=["balanced", "precision", "recall"])
    p.add_argument("--target-lang", default=None)
    p.add_argument("--lang-filter", action="store_true",
                   help="with --target-lang: additionally drop extracted "
                        "'ok' docs whose OUTPUT text the stopword "
                        "classifier assigns to another language "
                        "(extension; the reference's languageFilter stub "
                        "always accepts and --target-lang alone gates on "
                        "HTML metadata only)")
    p.add_argument("--formatting", action="store_true",
                   help="keep inline hi/del formatting as markdown markers")
    p.add_argument("--links", action="store_true",
                   help="keep hyperlinks as [text](target) refs")
    p.add_argument("--no-images", action="store_true",
                   help="drop graphic spans (reference default)")
    p.add_argument("--no-comments", action="store_true")
    p.add_argument("--no-tables", action="store_true",
                   help="drop tables from the output (reference "
                        "--no-tables)")
    p.add_argument("--no-metadata", action="store_true")
    p.add_argument("--only-with-metadata", action="store_true",
                   help="reject documents lacking date+title+url metadata "
                        "(reference --only-with-metadata)")
    p.add_argument("--deduplicate", action="store_true",
                   help="per-document duplicate-segment filter (reference "
                        "--deduplicate; duplicateTest semantics)")
    p.add_argument("--min-extracted-size", type=int, default=None,
                   help="override the MIN_EXTRACTED_SIZE gate (the "
                        "reference's config-file knob, settings.dart:26)")
    p.add_argument("--doc-timeout", type=float, default=0.0,
                   help="per-document wall-clock budget in seconds; overruns "
                        "become status='timeout' rows counted in the wave "
                        "metrics (0 = disabled). At web scale one "
                        "adversarial page must not wedge a task: "
                        "speculation re-runs a deterministic stall, a "
                        "budget bounds it.")
    p.add_argument("--min-output-size", type=int, default=None,
                   help="override the MIN_OUTPUT_SIZE gate "
                        "(settings.dart:27)")
    p.add_argument("--config-file", default=None,
                   help="settings.cfg with the reference's 8 size-gate "
                        "keys (configMapping, settings.dart:52-62: "
                        "MIN_EXTRACTED_SIZE, MIN_OUTPUT_SIZE, ...); "
                        "explicit flags override file values")
    p.add_argument("--blacklist", default=None,
                   help="file of URLs to skip, one per line, '#' comments "
                        "(reference --blacklist, cli_utils.dart:140-150): "
                        "extract/crawl reject matching documents via the "
                        "urlBlacklist gate; discovery modes drop matching "
                        "links from the output")
    p.add_argument("--list", action="store_true",
                   help="discovery modes only: write the discovered URL "
                        "list and stop — no page fetch (explore/feed) or "
                        "extraction (crawl); the reference's --list mode "
                        "(cli_utils.dart:412-414)")
    p.add_argument("--backup-dir", default=None,
                   help="crawl/explore: also write the raw fetched pages "
                        "(url[, hop], status, html) as parquet here "
                        "(reference --backup-dir)")
    p.add_argument("--backup-format", default="parquet",
                   choices=["parquet", "warc"],
                   help="warc archives the fetched pages as Common "
                        "Crawl-layout .warc.gz shards (re-extractable "
                        "standalone via --input-format warc); parquet "
                        "keeps the full (url, hop, status, html) table")
    p.add_argument("--url-filter", action="append", default=None,
                   help="substring filter, repeatable (reference "
                        "--url-filter, cli_utils.dart:162-165): discovery "
                        "output and the crawl frontier keep only URLs "
                        "containing at least one given substring")
    p.add_argument("--serialize", default=None, choices=ALL_FORMATS,
                   help="add a serialized string column to the output — "
                        "the reference CLI's 7-format -f dispatch "
                        "(core.dart:25-105; spans stay the primary sink). "
                        "Every format renders from the extraction tree "
                        "inside the Arrow stage, exactly as extract() "
                        "does; not available with --input-format "
                        "pdf-parquet, whose extractor builds no tree")
    p.add_argument("--mode", default="extract",
                   choices=["extract", "discover-sitemaps", "discover-feeds",
                            "crawl", "probe", "explore", "feed", "dedup",
                            "decontam"],
                   help="extract (default); link discovery over a "
                        "fetched-documents parquet of (url, xml|content) "
                        "— the CLI analogs of the reference's --sitemap / "
                        "--feed modes (cli.dart); or crawl: live BFS from "
                        "--seeds through --max-hops, robots-gated, then "
                        "extraction (downloadQueueProcessing analog, "
                        "cli_utils.dart:379-406); or probe: fetch each "
                        "input URL and keep those whose whole-page text "
                        "clears the extractable gate (probeHomepage, "
                        "cli_utils.dart:455-470); or explore: live "
                        "sitemap discovery from the seed hosts, then "
                        "fetch + extract every discovered page "
                        "(--explore, cli.dart:344 via cliDiscovery); or "
                        "feed: live feed discovery (findFeedUrls, "
                        "feeds.dart:368-431), then fetch + extract")
    p.add_argument("--eval-set", default=None,
                   help="--mode decontam: parquet of the evaluation set "
                        "(--eval-id-col, --eval-text-col) whose token "
                        "n-grams must not appear in kept documents")
    p.add_argument("--eval-id-col", default="eval_id",
                   help="--mode decontam: eval-set id column")
    p.add_argument("--eval-text-col", default="eval_text",
                   help="--mode decontam: eval-set text column")
    p.add_argument("--ngram-n", type=int, default=13,
                   help="--mode decontam: n-gram length over normalized "
                        "tokens (13 = the GPT-3 appendix-C convention)")
    p.add_argument("--decontam-report", default=None,
                   help="--mode decontam: optional parquet path for the "
                        "(doc_id, eval_id, matched_ngrams) match table")
    p.add_argument("--dedup-strategy", default="minhash",
                   choices=["exact", "minhash", "simhash", "embedding"],
                   help="--mode dedup: exact (md5 groupBy), minhash "
                        "(MinHash→LSH→Jaccard near-dup, subsumes exact), "
                        "simhash (pigeonhole-banded hamming radius, "
                        "recall 1.0 at --dedup-max-hamming) or embedding "
                        "(hyperplane-LSH bucketed cosine over --vec-col)")
    p.add_argument("--dedup-threshold", type=float, default=None,
                   help="--mode dedup: verify threshold (exact on "
                        "candidates, not estimated) — Jaccard for "
                        "minhash (default 0.5), cosine for embedding "
                        "(default 0.99)")
    p.add_argument("--vec-col", default="embedding",
                   help="--mode dedup: embedding column (embedding "
                        "strategy)")
    p.add_argument("--dedup-dim", type=int, default=64,
                   help="--mode dedup: embedding dimensionality for "
                        "the LSH hyperplanes (embedding strategy)")
    p.add_argument("--dedup-keep", default="min-id",
                   choices=["min-id", "longest"],
                   help="--mode dedup survivor policy: min doc id per "
                        "cluster, or the longest text (ties → min id)")
    p.add_argument("--dedup-max-hamming", type=int, default=3,
                   help="--mode dedup: simhash strategy bit radius "
                        "(pairs within this 32-bit hamming distance "
                        "cluster together)")
    p.add_argument("--dedup-max-bucket-size", type=int, default=None,
                   help="--mode dedup: drop LSH buckets larger than "
                        "this (hot-band guard — boilerplate bands "
                        "otherwise explode into quadratic pair volume)")
    p.add_argument("--dedup-report", default=None,
                   help="--mode dedup: optional parquet path for the "
                        "(doc_id, cluster_id, is_survivor) audit table")
    p.add_argument("--signature-store", default=None,
                   help="--mode dedup: directory holding the persistent "
                        "corpus store (docs/ + sigs/ parquet). First run "
                        "bootstraps it from the deduped input; every "
                        "later run dedups its batch AGAINST the store "
                        "(only the batch pays signature cost) and "
                        "appends the accepted docs + signatures. "
                        "Batches must carry fresh ids. minhash only.")
    p.add_argument("--stream", action="store_true",
                   help="--mode dedup: treat --input as a Structured "
                        "Streaming file source of (id, text) parquet "
                        "drops and drain it with an availableNow "
                        "trigger — each micro-batch dedups against the "
                        "--signature-store (required) and survivors "
                        "append to --output and the store. Re-running "
                        "after new drops land resumes from the stream "
                        "checkpoint, so batch and streaming runs "
                        "interleave over one store. minhash/min-id only.")
    p.add_argument("--checkpoint", default=None,
                   help="--mode dedup --stream: streaming checkpoint "
                        "location (default: <signature-store>/checkpoint)")
    p.add_argument("--stream-id-type", default="long",
                   help="--mode dedup --stream: Spark SQL type of the id "
                        "column in the drop files (file-source streams "
                        "need an explicit schema; must match the type "
                        "the store was bootstrapped with, e.g. 'string' "
                        "for URL-keyed corpora)")
    p.add_argument("--id-col", default="doc_id",
                   help="--mode dedup: document id column")
    p.add_argument("--text-col", default="text",
                   help="--mode dedup: text column to deduplicate on")
    p.add_argument("--seeds", default=None,
                   help="comma-separated seed URLs (--mode crawl)")
    p.add_argument("--seeds-file", default=None,
                   help="file of seed URLs, one per line, '#' comments "
                        "(the reference's --input-file URL list, "
                        "cli_utils.dart loadInputUrls) — merged with "
                        "--seeds for the crawl/explore/feed/probe modes")
    p.add_argument("--max-hops", type=int, default=2)
    p.add_argument("--per-host-quota", type=int, default=10)
    p.add_argument("--sleep-time", type=float, default=0.0,
                   help="seconds between same-host fetches in the live "
                        "modes (the reference's per-domain politeness "
                        "delay, cli_utils.dart:401 — it hardcodes 2.0; "
                        "default 0 here since fixture-driven batch runs "
                        "need none). Forces per-host partitioning so one "
                        "task owns each host's request stream")
    args = p.parse_args(argv)

    if args.seeds_file:
        # loadInputUrls (the reference's --input-file URL list): trimmed
        # lines, '#' comments and blanks skipped, merged after --seeds
        with open(args.seeds_file, encoding="utf-8") as fh:
            file_seeds = [ln.strip() for ln in fh
                          if ln.strip() and not ln.strip().startswith("#")]
        merged = [s for s in (args.seeds.split(",") if args.seeds else [])
                  if s] + file_seeds
        args.seeds = ",".join(dict.fromkeys(merged)) or None

    if args.mode == "probe":
        if not (args.input or args.seeds):
            p.error("--mode probe needs --input (url parquet) or --seeds")
    elif args.mode in ("explore", "feed"):
        if not args.seeds:
            p.error(f"--seeds is required for --mode {args.mode}")
    elif args.mode != "crawl" and not args.input:
        p.error(f"--input is required for --mode {args.mode}")
    if args.lang_filter:
        # validated BEFORE the session is built / the input is read: the
        # stopword classifier can only ever emit the languages it has
        # stopword sets for (plus 'und'), so any other --target-lang would
        # silently drop 100% of extracted docs
        from .functions.textstats import CLASSIFIER_LANGS
        if not args.target_lang:
            p.error("--lang-filter requires --target-lang")
        if args.target_lang not in CLASSIFIER_LANGS:
            p.error(
                f"--lang-filter cannot classify {args.target_lang!r}: the "
                "classifier supports "
                f"{CLASSIFIER_LANGS} (anything else would drop every "
                "extracted document)")
    if (args.serialize and args.mode == "extract"
            and args.input_format == "pdf-parquet"):
        p.error("--serialize renders from the extraction tree, which the "
                "--input-format pdf-parquet extractor does not build")
    spark = make_session()

    blacklist: frozenset = frozenset()
    if args.blacklist:
        # loadBlacklist (cli_utils.dart:140-150): trimmed lines, '#'
        # comments and blanks skipped, exact-match set
        with open(args.blacklist, encoding="utf-8") as fh:
            blacklist = frozenset(
                ln.strip() for ln in fh
                if ln.strip() and not ln.strip().startswith("#"))

    def gate_links(df, col):
        """loadInputDict URL gates (cli_utils.dart:153-170) over a
        discovered-links column — the shared crawl.gate_urls filters."""
        from .sources.crawl import gate_urls
        return gate_urls(df, args.url_filter, blacklist, col=col)

    # per-domain politeness delay for the live modes (cli_utils.dart:401)
    fetch_config = ({"SLEEP_TIME": args.sleep_time}
                    if getattr(args, "sleep_time", 0) else None)

    if args.mode == "discover-sitemaps":
        from .sources.discovery import expand_sitemaps
        fetched = spark.read.parquet(args.input)
        seeds = fetched.select("url")
        pages = gate_links(expand_sitemaps(fetched, seeds,
                                           target_lang=args.target_lang),
                           "link")
        pages.write.mode("overwrite").parquet(args.output)
        print({"mode": "discover-sitemaps", "links": pages.count()})
        return 0
    if args.mode == "discover-feeds":
        from .sources.discovery import lang_filter
        from .sources.feeds import feed_links_df
        fetched = spark.read.parquet(args.input)
        content_col = "content" if "content" in fetched.columns else "xml"
        links = feed_links_df(fetched, content_col=content_col,
                              target_lang=args.target_lang)
        if args.target_lang:
            # the reference's feed path stores but never applies its lang
            # arg (feeds.dart checkUrl); the CLI promises a filter, so
            # apply the URL-language heuristic here (sitemaps.dart:184-198)
            links = links.filter(lang_filter(F.col("link"),
                                             args.target_lang))
        links = gate_links(links, "link")
        links.write.mode("overwrite").parquet(args.output)
        print({"mode": "discover-feeds", "links": links.count()})
        return 0
    if args.mode == "decontam":
        # benchmark decontamination: remove documents sharing normalized
        # token n-grams with an eval set (the stage a training-data
        # pipeline runs right before tokenization, after dedup).  The
        # eval n-gram side broadcasts; the corpus is read exactly once.
        from .functions.dedup import contamination_matches
        if not args.eval_set:
            p.error("--mode decontam requires --eval-set")
        docs = (spark.read.table(args.input)
                if args.input_format == "table"
                else spark.read.parquet(args.input))
        eval_df = spark.read.parquet(args.eval_set)
        matches = contamination_matches(
            docs, eval_df, n=args.ngram_n, id_col=args.id_col,
            text_col=args.text_col, eval_id_col=args.eval_id_col,
            eval_text_col=args.eval_text_col).persist()
        if args.decontam_report:
            matches.write.mode("overwrite").parquet(args.decontam_report)
        bad = matches.select(args.id_col).distinct()
        docs.join(F.broadcast(bad), args.id_col, "left_anti") \
            .write.mode("overwrite").parquet(args.output)
        contaminated = bad.count()
        matches.unpersist()
        kept = spark.read.parquet(args.output).count()
        print({"mode": "decontam", "ngram_n": args.ngram_n,
               "kept": kept, "contaminated": contaminated})
        return 0
    if args.mode == "dedup":
        # corpus-level "keep one per cluster": the stage a training-data
        # pipeline runs over an extracted corpus (the output of --mode
        # extract, or any (id, text) parquet/table) before tokenization
        from .functions.dedup import dedup_corpus
        if args.stream:
            # continuous-ingestion shape: drain whatever drops have
            # landed since the last run, dedup each micro-batch against
            # the store (streaming/dedup_stream.py), stop when caught up
            if not args.signature_store:
                p.error("--stream requires --signature-store (cross-"
                        "batch state lives in the store, not in Spark "
                        "streaming state)")
            if args.dedup_strategy != "minhash":
                p.error("--stream requires --dedup-strategy minhash")
            if args.dedup_keep != "min-id":
                p.error("--stream requires --dedup-keep min-id")
            if args.input_format == "table":
                p.error("--stream reads a parquet-drop directory, not "
                        "a table")
            from .streaming.dedup_stream import start_dedup_stream
            chk = args.checkpoint or os.path.join(args.signature_store,
                                                  "checkpoint")
            q = start_dedup_stream(
                spark, args.input, args.output, chk,
                args.signature_store, id_col=args.id_col,
                text_col=args.text_col,
                schema=(f"{args.id_col} {args.stream_id_type}, "
                        f"{args.text_col} string"),
                threshold=(0.5 if args.dedup_threshold is None
                           else args.dedup_threshold),
                max_bucket_size=args.dedup_max_bucket_size,
                available_now=True)
            q.awaitTermination()
            try:
                kept = spark.read.parquet(args.output).count()
            except AnalysisException:
                kept = 0  # zero drops so far: no output dir yet
            try:
                store_n = spark.read.parquet(os.path.join(
                    args.signature_store, "docs")).count()
            except AnalysisException:
                store_n = 0
            print({"mode": "dedup", "stream": True, "kept": kept,
                   "store_docs": store_n})
            return 0
        docs = (spark.read.table(args.input)
                if args.input_format == "table"
                else spark.read.parquet(args.input))
        plan = None
        if args.signature_store:
            if args.dedup_strategy != "minhash":
                p.error("--signature-store requires --dedup-strategy "
                        "minhash (the store holds minhash signatures)")
            if args.dedup_keep != "min-id":
                p.error("--signature-store requires --dedup-keep min-id "
                        "(replacing a store doc would invalidate prior "
                        "batches' accept/reject decisions)")
            from .functions.signature_store import plan_store_batch
            plan = plan_store_batch(
                docs, args.signature_store, id_col=args.id_col,
                text_col=args.text_col,
                threshold=(0.5 if args.dedup_threshold is None
                           else args.dedup_threshold),
                max_bucket_size=args.dedup_max_bucket_size)
            deduped, labels = plan.accepted, plan.labels
            if plan.store_docs is not None:
                # a batch job is not replayed: ids the store holds mean
                # a re-submitted batch, which is an error here
                overlap = docs.join(
                    plan.store_docs.select(args.id_col), args.id_col,
                    "left_semi").count()
                if overlap:
                    labels.unpersist()
                    p.error(f"--signature-store: {overlap} batch ids "
                            "already exist in the store (batches must "
                            "carry fresh ids)")
        else:
            deduped, labels = dedup_corpus(
                docs, id_col=args.id_col, text_col=args.text_col,
                strategy=args.dedup_strategy,
                threshold=args.dedup_threshold,
                keep=args.dedup_keep,
                max_bucket_size=args.dedup_max_bucket_size,
                max_hamming=args.dedup_max_hamming,
                vec_col=args.vec_col, dim=args.dedup_dim)
        deduped.write.mode("overwrite").parquet(args.output)
        if args.dedup_report:
            labels.write.mode("overwrite").parquet(args.dedup_report)
        stats = labels.agg(
            F.countDistinct("cluster_id").alias("clusters"),
            F.sum((~F.col("is_survivor")).cast("long")).alias("removed"),
        ).collect()[0]
        # count the written files, not deduped.count() — that would
        # replay the pair pipeline + anti-join lineage a second time
        written = spark.read.parquet(args.output)
        summary = {"mode": "dedup", "strategy": args.dedup_strategy,
                   "keep": args.dedup_keep, "kept": written.count(),
                   "removed": int(stats["removed"] or 0),
                   "clusters": int(stats["clusters"] or 0)}
        if plan is not None:
            # the written output is the accepted rows: storing (and on
            # bootstrap signing) them from it replays no pair pipeline,
            # and labels stays persisted until the plan's incremental
            # signatures have landed
            from .functions.signature_store import append_to_store
            append_to_store(args.signature_store, written, plan.new_sigs,
                            id_col=args.id_col, text_col=args.text_col)
            summary["store_docs"] = spark.read.parquet(os.path.join(
                args.signature_store, "docs")).count()
            summary["incremental"] = plan.store_docs is not None
        labels.unpersist()
        print(summary)
        return 0
    size_overrides = {}
    if args.config_file:
        from .settings import load_config_file
        size_overrides.update(load_config_file(args.config_file))
    if args.min_extracted_size is not None:
        size_overrides["min_extracted_size"] = args.min_extracted_size
    if args.min_output_size is not None:
        size_overrides["min_output_size"] = args.min_output_size
    options = Options(fast=args.fast, focus=args.focus, lang=args.target_lang,
                      formatting=args.formatting, links=args.links,
                      images=not args.no_images,
                      comments=not args.no_comments,
                      tables=not args.no_tables,
                      with_metadata=not args.no_metadata,
                      only_with_metadata=args.only_with_metadata,
                      dedup=args.deduplicate,
                      url_blacklist=blacklist,
                      doc_timeout_sec=args.doc_timeout,
                      **size_overrides)
    if args.mode == "probe":
        # probeHomepage (cli_utils.dart:455-470): fetch, html2txt, keep
        # URLs whose text is non-empty, > minExtractedSize, has a letter
        from .sources.crawl import probe_extractable
        from .sources.downloads import default_transport
        if args.seeds:
            urls = spark.createDataFrame(
                [(u,) for u in args.seeds.split(",")], "url string")
        else:
            urls = spark.read.parquet(args.input).select("url")
        urls = gate_links(urls, "url")
        alive = probe_extractable(spark, urls,
                                  transport=transport or default_transport,
                                  min_extracted_size=options.min_extracted_size,
                                  config=fetch_config)
        alive.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print({"mode": "probe", "extractable": n})
        return 0
    if args.mode in ("explore", "feed"):
        # cliDiscovery: live sitemap/feed discovery, then fetch+extract —
        # or, with --list, just the discovered URL list (the reference's
        # --list mode: print without downloading, cli_utils.dart:412-414)
        from .sources.crawl import (fetch_and_extract_urls, live_feed_pages,
                                    live_sitemap_pages)
        from .sources.downloads import default_transport
        tp = transport or default_transport
        lister = live_sitemap_pages if args.mode == "explore" \
            else live_feed_pages
        # the URL gates apply to the discovered page list before any page
        # fetch (the CLI doc's promise for --url-filter + --sitemap)
        urls = gate_links(
            lister(spark, args.seeds.split(","), transport=tp,
                   target_lang=args.target_lang, config=fetch_config)
            .select("link").distinct()
            .withColumnRenamed("link", "url"), "url")
        if args.list:
            urls.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print({"mode": args.mode, "list": True, "urls": n})
            return 0
        ex = fetch_and_extract_urls(urls, transport=tp, options=options,
                                    config=fetch_config,
                                    serialize=args.serialize,
                                    backup_path=args.backup_dir,
                                    backup_format=args.backup_format)
        ex.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print({"mode": args.mode, "docs": n})
        return 0
    if args.mode == "crawl":
        if not args.seeds:
            p.error("--seeds is required for --mode crawl")
        from .sources.crawl import crawl_and_extract, crawl_site
        from .sources.downloads import default_transport
        if args.list:
            # cliCrawler's print-the-frontier form: the BFS still fetches
            # nav pages (links cannot be discovered otherwise) but no
            # extraction runs and only the URL list is written
            pages = crawl_site(spark, args.seeds.split(","),
                               transport=transport or default_transport,
                               config=fetch_config,
                               max_hops=args.max_hops,
                               per_host_quota=args.per_host_quota,
                               url_filter=args.url_filter,
                               url_blacklist=blacklist)
            urls = pages.select("url", "hop", "status")
            urls.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print({"mode": "crawl", "list": True, "urls": n})
            return 0
        ex = crawl_and_extract(spark, args.seeds.split(","),
                               transport=transport or default_transport,
                               config=fetch_config,
                               options=options, max_hops=args.max_hops,
                               per_host_quota=args.per_host_quota,
                               serialize=args.serialize,
                               url_filter=args.url_filter,
                               url_blacklist=blacklist,
                               backup_path=args.backup_dir,
                    backup_format=args.backup_format)
        ex.write.mode("overwrite").parquet(args.output)
        # count the written files, not ex.count() — that would re-run
        # the whole fetch+extract lineage a second time
        n = spark.read.parquet(args.output).count()
        print({"mode": "crawl", "docs": n})
        return 0
    if not args.progress:
        p.error("--progress is required for --mode extract")
    batches_fn = None
    if args.input_format == "html-dir":
        docs = read_html_dir(spark, args.input)
    elif args.input_format == "warc":
        # Common Crawl-shaped ingestion: directory of .warc/.warc.gz
        from .sources.warc import read_warc
        docs = read_warc(spark, args.input)
    elif args.input_format == "pdf-parquet":
        from .sources.pdf import make_pdf_batches
        docs = spark.read.parquet(args.input)
        batches_fn = make_pdf_batches(options)
    elif args.input_format == "table":
        docs = spark.read.table(args.input)
    else:
        docs = spark.read.parquet(args.input)
    summary = run_extraction(spark, docs, args.output, args.progress,
                             run_id=args.run_id, options=options,
                             n_buckets=args.buckets, wave_size=args.wave_size,
                             lineage=args.input, serialize=args.serialize,
                             batches_fn=batches_fn,
                             lang_filter=(args.target_lang
                                          if args.lang_filter else None))
    print(summary)
    return 0


if __name__ == "__main__":
    sys.exit(main())
