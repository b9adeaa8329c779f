"""Driver contract for the spark-graft builder (PySpark target).

Queries come in two families (SURVEY.md §2, FIXTURES.md §4):

1. **Extraction** (`extract_*`): the interleaved spans corpus is derived
   deterministically from `{sf_dir}/documents.parquet`
   (trafilatura_spark.sources.corpus), extraction runs through the real
   mapInPandas pipeline, and — because the construction is a pure
   function of (doc_id, text, lang, source) — the expected output spans
   are expressible in ANSI SQL over the original `documents` view.
   Most use relaxed size thresholds + fast mode so the expected path is
   the deterministic main cascade; `extract_fallback_*` run fast=False
   over pages built to defeat the main cascade (readability / justext
   tiers), and `extract_default_gates` runs STOCK thresholds and pins
   the wild-text duplication the reference exhibits below
   min_extracted_size.

2. **Training-pipeline ops** (`dedup_*`, `text_*`, `embedding_*`):
   DataFrame-native operators over `documents`/`embeddings`, mirrored
   bit-for-bit in SQL (md5-derived hashes, rounded floats).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make trafilatura_spark importable no matter the driver's cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession, functions as F

from trafilatura_spark.functions.textstats import LANG_STOPWORDS as _LANGS
from trafilatura_spark.operators.pipeline import extract_documents
from trafilatura_spark.settings import Options
from trafilatura_spark.sources.corpus import synthesize_documents_df

RELAXED = dict(min_extracted_size=5, min_output_size=1,
               min_output_comm_size=1, min_extracted_comm_size=1)

N_HASHES = 8
BAND_SIZE = 2
SHINGLE_K = 3


def _cpu_partitions(spark: "SparkSession") -> int:
    """2×cores partition count for CPU-bound map stages whose input scan
    yields fewer splits than cores (sf-scale parquet arrives as 1-2
    files).  Production scans already carry thousands of partitions and
    should NOT pay this repartition — see near_duplicate_pairs."""
    return spark.sparkContext.defaultParallelism * 2
ANN_TABLES = 16
ANN_BITS = 4
# near-dup pair finding: cosine~1.0 pairs collide in EVERY table, so
# recall needs few tables; more bits slash the candidate-pair volume
# (bucket population ~N/2^bits per table drives the self-join size)
DEDUP_EMB_TABLES = 4
DEDUP_EMB_BITS = 8


def _extract(spark: SparkSession, sf_dir: str, with_comments: bool = False,
             template: str = "article", **opt_kw) -> DataFrame:
    opts = Options(fast=True, comments=with_comments, with_metadata=True,
                   **RELAXED, **opt_kw)
    docs = synthesize_documents_df(spark, sf_dir,
                                   with_comments=with_comments,
                                   template=template)
    return extract_documents(docs, opts)


def _spans_flat(extracted: DataFrame) -> DataFrame:
    return (
        extracted
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.explode("spans").alias("s"))
        .select("doc_id",
                F.col("s.offset").cast("long").alias("offset"),
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"))
    )


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extracted span sequences for the article-template corpus."""
    return _spans_flat(_extract(spark, sf_dir))


def _roundtrip_cols(ex: DataFrame, id_col) -> DataFrame:
    return ex.select(
        id_col.alias("doc_id"),
        F.array_join(
            F.transform(F.filter("spans", lambda s: s["kind"] != "graphic"),
                        lambda s: s["text"]), " ").alias("extracted_text"))


_WARC_ID_OFFSET = 10_000_000


def q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip identity: whitespace-join of non-graphic span texts must
    equal the source text — via TWO ingestion paths unioned: the direct
    spans-parquet path (doc_id as-is), and the same corpus archived to
    WARC shards (sources/warc.py write_warc) and re-read with read_warc
    (doc_id + 10^7), proving the Common Crawl-shaped archive round trip
    inside the driver gate rather than pytest-only."""
    import tempfile

    from trafilatura_spark.sources.warc import read_warc, write_warc

    ex = _extract(spark, sf_dir)
    direct = _roundtrip_cols(ex, F.col("doc_id").cast("long"))

    docs = synthesize_documents_df(spark, sf_dir)
    pages = docs.select(
        F.concat(F.lit("https://w.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.array_join(
            F.transform(
                F.array_sort(F.transform(
                    "spans", lambda s: F.struct(s["offset"].alias("o"),
                                                s["text"].alias("t")))),
                lambda x: x["t"]), "").alias("html"))
    warc_dir = tempfile.mkdtemp(prefix="tfs_warc_oracle_")
    write_warc(pages, warc_dir)
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    via_warc = extract_documents(read_warc(spark, warc_dir), opts)
    warc_rows = _roundtrip_cols(
        via_warc,
        (F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
         + F.lit(_WARC_ID_OFFSET)))
    return direct.unionByName(warc_rows)


def q_extract_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment spans (kind='comment'), ordered after the main body."""
    ex = _extract(spark, sf_dir, with_comments=True)
    return _spans_flat(ex).filter(F.col("kind") == "comment") \
        .select("doc_id", "offset", "text")


def q_extract_wildtext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare-template docs (no selectable container): wild-text recovery
    must still find the paragraphs."""
    ex = _extract(spark, sf_dir, template="bare")
    return _spans_flat(ex).select("doc_id", "offset", "kind", "text")


def q_extract_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _extract(spark, sf_dir)
    return ex.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("meta.title").alias("title"),
        F.col("meta.author").alias("author"),
        F.col("meta.url").alias("url"),
        F.col("meta.hostname").alias("hostname"),
        F.col("meta.sitename").alias("sitename"),
        F.col("meta.description").alias("description"))


def q_extract_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication-date normalization (metadata.dart:765-847 findDate):
    article:published_time → ISO yyyy-MM-dd."""
    ex = _extract(spark, sf_dir)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("meta.date").alias("date"))


def q_extract_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language gate: target 'en' rejects non-en docs (og:locale header)."""
    ex = _extract(spark, sf_dir, lang="en")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"), "status")


def q_extraction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status doc counts of the lang-gated run (pipeline metrics)."""
    ex = _extract(spark, sf_dir, lang="en")
    return ex.groupBy("status").agg(F.count("*").alias("docs"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-match dedup family, keyed by ``variant`` (the
    media_features pattern: variant-specific columns carry sentinels on
    the other variant): 'exact' = md5 duplicate groups over the injected
    corpus (one shuffle, map-side partial agg); 'decontam' = benchmark
    decontamination — normalized token 8-gram overlap of the corpus
    against an eval set built from every 17th doc (eval_id = doc_id +
    5e6), eval n-grams broadcast, zero doc-side shuffle.  The decontam
    leg rides this row to hold the 50-entry driver window."""
    from trafilatura_spark.functions.dedup import (
        contamination_matches, exact_duplicate_groups, inject_duplicates)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = exact_duplicate_groups(inject_duplicates(docs)).select(
        F.lit("exact").alias("variant"), "text_md5",
        F.col("dup_count").cast("long").alias("dup_count"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit(-1).cast("long").alias("eval_id"),
        F.lit(-1).cast("long").alias("matched_ngrams"))
    eval_df = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("eval_id"),
        F.col("text").alias("eval_text"))
    dec = contamination_matches(docs, eval_df, n=8).select(
        F.lit("decontam").alias("variant"),
        F.lit("").alias("text_md5"),
        F.lit(-1).cast("long").alias("dup_count"),
        F.lit(-1).cast("long").alias("canonical_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("eval_id").cast("long").alias("eval_id"),
        F.col("matched_ngrams").cast("long").alias("matched_ngrams"))
    return exact.unionByName(dec)


def _minhash_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.dedup import (
        inject_duplicates, near_duplicate_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    return near_duplicate_pairs(inject_duplicates(docs),
                                n_hashes=N_HASHES, band_size=BAND_SIZE,
                                k=SHINGLE_K, threshold=0.5,
                                n_partitions=_cpu_partitions(spark))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three minhash→LSH→exact-Jaccard near-dup paths in one proof,
    keyed by ``variant``: 'word' = k-word shingles over an
    exact-duplicate injection; 'char' = character-12-gram shingles (the
    tokenization-free variant for CJK/code/concatenated boilerplate)
    over suffix-perturbed duplicates, so the char Jaccard is genuinely
    below 1 but above the 0.5 threshold; 'incremental' = the
    continuous-ingestion seam (near_duplicate_pairs_incremental): the
    injected duplicates arrive as a NEW batch deduplicated against a
    persisted signature store over the originals — the contract pins it
    to exactly the word-variant pairs that touch a batch doc, which is
    what the DuckDB mirror selects.  (r4's dedup_minhash + dedup_ngram
    rows merged to hold the 50-entry driver window; the incremental leg
    rides the same row to keep it.)"""
    from trafilatura_spark.functions.dedup import (
        char_shingles, minhash_signatures, near_duplicate_pairs,
        near_duplicate_pairs_incremental)
    word = _minhash_word_pairs(spark, sf_dir) \
        .withColumn("variant", F.lit("word"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" tail"), F.col("doc_id")).alias("text"))
    corpus = docs.unionByName(dups)
    char = near_duplicate_pairs(
        corpus, n_hashes=N_HASHES, band_size=BAND_SIZE, threshold=0.5,
        shingler=lambda c: char_shingles(c, 12),
        n_partitions=_cpu_partitions(spark)) \
        .withColumn("variant", F.lit("char"))
    # incremental: batch = the exact-copy injections (same shape
    # inject_duplicates produces), store = signatures over the originals
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    store = minhash_signatures(docs, n_hashes=N_HASHES, k=SHINGLE_K)
    inc = near_duplicate_pairs_incremental(
        batch, docs, store, n_hashes=N_HASHES, band_size=BAND_SIZE,
        k=SHINGLE_K, threshold=0.5) \
        .withColumn("variant", F.lit("incremental"))
    return word.unionByName(char).unionByName(inc)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → canonical survivor: connected components by
    iterative min-label propagation over the word-shingle near-dup pair
    table, emitting (doc_id, cluster_id = component-min doc_id,
    is_survivor).  The "keep one per cluster" stage a 100 TB dedup run
    needs after pair finding; DuckDB mirror is a recursive CTE."""
    from trafilatura_spark.functions.dedup import resolve_clusters
    return resolve_clusters(_minhash_word_pairs(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.textstats import fingerprints
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprints(docs).select("doc_id", "fp_md5", "fp_simhash",
                                     "fp_rolling")


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-segment detection over EXTRACTED paragraphs
    (relational duplicateTest): triplicate every 10th doc, flag its two
    paragraph segments (occurrences 3 > max_repetitions 2)."""
    from trafilatura_spark.functions.dedup import segment_repetitions
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = base.filter(F.col("doc_id") % 10 == 0)
    tripled = base.unionByName(extra).unionByName(extra)
    docs = synthesize_documents_df_from(spark, tripled)
    ex = extract_documents(docs, Options(fast=True, comments=False,
                                         with_metadata=False, **RELAXED))
    return segment_repetitions(
        ex, F.expr("transform(filter(spans, s -> s.kind = 'p'), s -> s.text)"))


def synthesize_documents_df_from(spark: SparkSession, base: DataFrame) -> DataFrame:
    """Synthesize spans from an arbitrary (doc_id,text,lang,source) frame,
    tolerating repeated doc_ids (for the segment-dedup corpus) — thin
    alias over the shared corpus synthesis stage."""
    from trafilatura_spark.sources.corpus import synthesize_spans_from
    return synthesize_spans_from(base)


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.textstats import lang_id
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(docs).select("doc_id", "predicted_lang")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.textstats import (quality_score,
                                                       repetition_stats,
                                                       token_stats)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(quality_score(token_stats(docs))).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        "avg_token_len", "quality", "top_token_frac", "dup_ngram_frac")


def q_extract_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision focus over comment-bearing pages: comment sections are
    removed before the cascade (core.dart:270-274), so output equals the
    pure article span sequence."""
    opts = dict(focus="precision")
    docs = synthesize_documents_df(spark, sf_dir, with_comments=True)
    from trafilatura_spark.operators.pipeline import extract_documents
    ex = extract_documents(docs, Options(fast=True, comments=False,
                                         with_metadata=False, **RELAXED,
                                         **opts))
    return _spans_flat(ex)


def _fallback_family(spark: SparkSession, sf_dir: str,
                     template: str) -> DataFrame:
    """fast=False oracle family: pages built to defeat the main cascade so
    the compare_extraction decision table (external.dart:36-115) picks the
    readability or justext tier.  The ``tier`` column rides the hash
    compare, so a doc silently taking a different path fails the oracle.
    Restricted to >= 15-word docs (shorter docs legitimately route
    differently through the decision table)."""
    from trafilatura_spark.operators.pipeline import extract_documents
    docs = synthesize_documents_df(spark, sf_dir, template=template)
    ex = extract_documents(docs, Options(fast=False, comments=False,
                                         with_metadata=False, **RELAXED))
    eligible = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter(F.size(F.split("text", " ")) >= 15)
                .select("doc_id"))
    flat = ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "tier", F.explode("spans").alias("s")) \
             .select("doc_id", "tier",
                     F.col("s.offset").cast("long").alias("offset"),
                     F.col("s.kind").alias("kind"),
                     F.col("s.text").alias("text"),
                     F.col("s.media_ref").alias("media_ref"))
    return flat.join(F.broadcast(eligible), "doc_id")


def q_extract_fallback_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fallback_family(spark, sf_dir, "fallback_readability")


def q_extract_fallback_justext(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fallback_family(spark, sf_dir, "fallback_justext")


def q_extract_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall focus: looser pruning must still produce exactly the
    ground-truth spans on clean article pages (recall only ADDS content
    when thresholds bite — here nothing extra exists to add)."""
    ex = _extract(spark, sf_dir, focus="recall")
    return _spans_flat(ex)


def q_render_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """txt/markdown serialization of the extracted tree (xml_utils.dart
    xmltotxt re-expression — the engine's string-output sink)."""
    ex = _extract(spark, sf_dir)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("text").alias("rendered"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans → payloads → Arrow-batched decode
    → per-item features.  FIVE payload passes through the decode stages:
    the deterministic fake codec, real image bytes (24-bit BMP / PPM P6
    full pixel decode with Rec.601 luma + 8x8 average hash, GIF header
    parse), real WAV/PCM16 audio, real AVI video (uncompressed DIB
    frames → per-frame average-hash via frame_samples; frame index and
    timestamp ride the media_ref key), and a RESIZE pass (decode →
    exact 8x8 box-average → luma_sum/phash of the resized grid; keys
    suffixed '#rz', codec prefixed 'rz-') — the oracle mirrors every
    decoded feature from the generators' closed forms (the video frames'
    base_f luma shift cancels out of the block-vs-total mean comparison,
    so all frames of a ref share one closed-form phash; the resized
    pixels are floor block-means of the gradient, computed per (X, Y) in
    SQL)."""
    from trafilatura_spark.functions.multimodal import (
        audio_features, frame_samples, image_features, media_table,
        with_fake_payloads, with_real_audio_payloads, with_real_payloads,
        with_real_video_payloads)
    from trafilatura_spark.functions.resize import resize_images
    docs = synthesize_documents_df(spark, sf_dir)
    media = media_table(docs)

    def sel(feats: DataFrame) -> DataFrame:
        return feats.select(
            "media_ref", "codec",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("channels").cast("long").alias("channels"),
            "luma_sum", "phash",
            F.lit(None).cast("long").alias("sample_rate"),
            F.lit(None).cast("long").alias("n_samples"),
            F.lit(None).cast("long").alias("peak"),
            F.lit(None).cast("long").alias("sq_sum"))

    audio = audio_features(with_real_audio_payloads(media)).select(
        "media_ref", "codec",
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.lit(None).cast("long").alias("luma_sum"),
        F.lit(None).cast("string").alias("phash"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "n_samples",
        F.col("peak").cast("long").alias("peak"),
        "sq_sum")

    video = frame_samples(with_real_video_payloads(media), every_ms=0) \
        .select(
            F.concat(F.col("media_ref"), F.lit("#"),
                     F.col("frame_idx").cast("string"), F.lit("@"),
                     F.col("ts_ms").cast("string")).alias("media_ref"),
            F.lit("avi").alias("codec"),
            *[F.lit(None).cast("long").alias(c)
              for c in ("width", "height", "channels", "luma_sum")],
            F.col("frame_phash").alias("phash"),
            *[F.lit(None).cast("long").alias(c)
              for c in ("sample_rate", "n_samples", "peak", "sq_sum")])

    resized = resize_images(with_real_payloads(media)) \
        .filter(F.col("error").isNull()) \
        .select(
            F.concat(F.col("media_ref"), F.lit("#rz")).alias("media_ref"),
            F.concat(F.lit("rz-"), F.col("codec")).alias("codec"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.lit(3).cast("long").alias("channels"),
            "luma_sum", "phash",
            *[F.lit(None).cast("long").alias(c)
              for c in ("sample_rate", "n_samples", "peak", "sq_sum")])

    return (sel(image_features(with_fake_payloads(media)))
            .unionByName(sel(image_features(with_real_payloads(media))))
            .unionByName(audio)
            .unionByName(video)
            .unionByName(resized))


def q_extract_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout parse (north-rule extraction tier; engine extension —
    the reference is HTML-only): deterministic two-page PDFs built from
    the documents table (Flate-compressed for even doc_ids), parsed back
    to the standard span table by the pure-stdlib extractor.  Two narrow
    Arrow-batched stages, no shuffle."""
    import pandas as pd

    from trafilatura_spark.sources.pdf import build_pdf, pdf_spans_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "pdf": [build_pdf(int(d), t)
                        for d, t in zip(pdf["doc_id"], pdf["text"])]})

    pdfs = docs.mapInPandas(gen, schema="doc_id string, pdf binary")
    return pdf_spans_df(pdfs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        "kind", "text", "media_ref")


def q_discovery_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap URL discovery (sitemaps.dart analog): per-source sitemap
    XML → regexp_extract_all <loc> entries, document order."""
    from trafilatura_spark.sources.discovery import extract_sitemap_urls
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sitemaps = (
        docs.select("source", F.struct("doc_id").alias("k"),
                    F.concat(F.lit("<url><loc>https://"), "source",
                             F.lit(".example.com/posts/"), "doc_id",
                             F.lit("</loc></url>")).alias("entry"))
        .groupBy("source")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "entry"))),
                lambda s: s["entry"]), "").alias("body"))
        .select("source",
                F.concat(F.lit("<urlset>"), "body",
                         F.lit("</urlset>")).alias("xml"))
    )
    return extract_sitemap_urls(sitemaps).select(
        "source", F.col("pos").cast("long").alias("pos"), "url")


def q_discovery_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive sitemap-index expansion (sitemapSearch loop,
    sitemaps.dart:267-283): per-source two-level sitemap tree (index →
    chunk sitemaps → post URLs) built deterministically from documents,
    expanded via the anti-join frontier loop."""
    from trafilatura_spark.sources.discovery import expand_sitemaps
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.com"))
    chunked = docs.select(
        "source",
        F.concat(base, F.lit("/sitemap-"), F.col("doc_id") % 5,
                 F.lit(".xml")).alias("child_url"),
        F.struct("doc_id").alias("k"),
        F.concat(F.lit("<url><loc>https://"), "source",
                 F.lit(".example.com/posts/"), "doc_id",
                 F.lit("</loc></url>")).alias("entry"))
    children = (
        chunked.groupBy("child_url")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("k", "entry"))),
                        lambda s: s["entry"]), "").alias("body"))
        .select(F.col("child_url").alias("url"),
                F.concat(F.lit("<?xml version='1.0'?><urlset>"), "body",
                         F.lit("</urlset>")).alias("xml"))
    )
    index = (
        chunked.select("source", "child_url").distinct()
        .groupBy("source")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("child_url")),
                        lambda u: F.concat(F.lit("<sitemap><loc>"), u,
                                           F.lit("</loc></sitemap>"))),
            "").alias("body"))
        .select(F.concat(F.lit("https://"), "source",
                         F.lit(".example.com/sitemap.xml")).alias("url"),
                F.concat(F.lit("<?xml version='1.0'?><sitemapindex>"), "body",
                         F.lit("</sitemapindex>")).alias("xml"))
    )
    # the expansion loop joins `fetched` once per frontier round; without a
    # persist each round would re-run both groupBy aggregations above (at
    # production scale `fetched` is the on-disk crawl store, so this is a
    # bench-fixture concern only).  The result is materialized with
    # localCheckpoint so the fixture cache can be released before
    # returning — otherwise it would leak into every later timed query.
    fetched = children.unionByName(index).persist()
    pages = expand_sitemaps(fetched, seeds := index.select("url")) \
        .select("sitemap_url", "link").localCheckpoint()
    fetched.unpersist()
    return pages


def q_discovery_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed determination cascade (feeds.dart:92-297) end-to-end: one RSS
    feed per source built deterministically from documents, pushed
    through find_feed_links (flavor detection, candidate validation,
    same-domain gate) via the Arrow-batched feed_links_df operator."""
    from trafilatura_spark.sources.feeds import feed_links_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    entry = F.concat(F.lit("<item><link>https://"), "source",
                     F.lit(".example.com/posts/"), "doc_id",
                     F.lit("</link></item>")).alias("entry")
    feeds = (
        docs.select("source", F.struct("doc_id").alias("k"), entry)
        .groupBy("source")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("k", "entry"))),
                        lambda s: s["entry"]), "").alias("body"))
        .select(
            F.concat(F.lit("https://"), "source",
                     F.lit(".example.com/feed")).alias("url"),
            F.concat(F.lit("<rss><channel>"), "body",
                     F.lit("</channel></rss>")).alias("content"))
    )
    return feed_links_df(feeds).select("url", "link").distinct()


def q_spider_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-compliance frontier filter (spider.dart:106-177 canFetch,
    relationally): per-source robots.txt disallows /private/ but allows
    /private/allowed/; doc_id%3 rotates URLs through posts (kept),
    private (dropped), private/allowed (allow wins)."""
    from trafilatura_spark.sources.spider import filter_robots, robots_rules_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    path = (F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("/private/"), "doc_id"))
            .when(F.col("doc_id") % 3 == 1,
                  F.concat(F.lit("/posts/"), "doc_id"))
            .otherwise(F.concat(F.lit("/private/allowed/"), "doc_id")))
    urls = docs.select(
        F.concat(F.lit("https://"), host, path).alias("url")).distinct()
    robots = (docs.select(F.col("source").alias("host")).distinct()
              .select(F.concat(F.col("host"), F.lit(".example.com"))
                      .alias("host"),
                      F.lit("User-agent: *\nDisallow: /private/\n"
                            "Allow: /private/allowed/\n").alias("robotstxt")))
    rules = robots_rules_df(robots)
    return filter_robots(urls, rules)


def q_spider_nav_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority crawl frontier (spider.dart:405-426 + _isNavigationPage,
    batch form): doc_id%4 rotates URLs through content / category /
    pagination / date-archive shapes; a per-host budget of 5 must admit
    navigation pages first (they yield the most new links per fetch)."""
    from trafilatura_spark.sources.spider import (is_navigation_page,
                                                  per_domain_quota)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    path = (F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("/posts/"), "doc_id"))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit("/category/"), "doc_id"))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit("/page/"), "doc_id"))
            .otherwise(F.concat(F.lit("/2024/"),
                                F.lpad((F.col("doc_id") % 12 + 1), 2, "0"))))
    urls = docs.select(
        F.concat(F.lit("https://"), host, path).alias("url")).distinct()
    kept = per_domain_quota(urls, quota=5, navigation_first=True)
    return kept.select("url",
                       is_navigation_page().cast("int").alias("is_nav"))


def q_crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link lifting + resolution (spider.dart:376-426 extractLinks
    / processLinks, relationally — sources/crawl.resolve_links): pages
    built from documents carry one link of each href form — absolute
    path, bare relative, protocol-relative, off-site absolute, mailto,
    fragment — and the operator must resolve the first three against the
    page URL (JVM-side regexp + parse_url) and drop the rest
    (focused-crawler same-site gate).  A parent-relative ``../up{id}``
    link additionally pins the RFC 3986 dot-segment collapse
    (_normalize_dot_segments): it must resolve to the host root, the
    same URL a direct '/up{id}' href would produce; a ``/frag{id}#sec``
    link pins fragment stripping (path kept, fragment dropped)."""
    from trafilatura_spark.sources.crawl import resolve_links
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com/a"),
                 "doc_id", F.lit("/index.html")).alias("url"),
        F.concat(
            F.lit('<html><body><a href="/p/'), "doc_id", F.lit('">l</a>'),
            F.lit('<a href="rel'), "doc_id", F.lit('.html">l</a>'),
            F.lit("<a href='//"), "source", F.lit(".example.com/pp/"),
            "doc_id", F.lit("'>l</a>"),
            F.lit('<a href="https://offsite.example.net/x'), "doc_id",
            F.lit('">l</a>'),
            F.lit('<a href="../up'), "doc_id", F.lit('.html">u</a>'),
            F.lit('<a href="/frag'), "doc_id", F.lit('#sec">f</a>'),
            F.lit('<a href="mailto:a@b.c">m</a><a href="#top">t</a>'),
            F.lit("</body></html>")).alias("html"))
    return resolve_links(pages).select("src", "url")


def q_streaming_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming UrlStore frontier (cli_utils.dart:43-114 as
    `applyInPandasWithState`, streaming/stateful.py): URL events with
    by-construction duplicates (doc_id%40) stream through the
    Bloom-seen-set dedup under an availableNow trigger; exactly one
    occurrence per distinct (host, url) must come out accepted.  The
    output multiset is order-independent (duplicates are identical
    rows), so the hash compare is exact despite the streaming engine's
    free batch ordering; the per-trigger politeness quota (100) never
    binds at ≤40 distinct URLs per host."""
    import tempfile

    from trafilatura_spark.streaming.stateful import (URL_EVENT_SCHEMA,
                                                      dedup_urls_stateful)
    base = tempfile.mkdtemp(prefix="sg_frontier_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = docs.select(
        F.concat("source", F.lit(".example.com")).alias("host"),
        F.concat(F.lit("https://"), "source", F.lit(".example.com/posts/"),
                 (F.col("doc_id") % 40)).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("event_time"))
    events.coalesce(1).write.parquet(base + "/in")
    stream = spark.readStream.schema(URL_EVENT_SCHEMA).parquet(base + "/in")
    q = (dedup_urls_stateful(stream)
         .writeStream.format("parquet").option("path", base + "/out")
         .option("checkpointLocation", base + "/chk")
         .outputMode("append").trigger(availableNow=True).start())
    finished = q.awaitTermination(300)
    if not finished:    # never read partial output on a stalled box
        q.stop()
        raise TimeoutError("streaming_frontier: availableNow query did not "
                           "finish within 300 s")
    out = (spark.read.parquet(base + "/out")
           .select("host", "url", "accepted"))
    # the compare materializes out before this tempdir would be touched
    # again; eagerly localCheckpoint so the dir can be dropped now
    out = out.localCheckpoint()
    import shutil
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_probe_extractable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed probeHomepage (cli_utils.dart:455-470 via
    crawl.probe_extractable): a deterministic transport synthesizes the
    page from the URL's doc_id — id%3==0 a long article (clears the
    250-char gate), id%3==1 a tiny page (fails the gate), id%3==2 a 404 —
    so only every third URL survives the fetch → html2txt → size+letter
    gate.  The transport is pure (URL → bytes), so the fetch stage stays
    an ordinary narrow Arrow stage with nothing to collect."""
    from trafilatura_spark.sources.crawl import probe_extractable

    def synth_transport(method, url, headers, timeout, max_bytes=None):
        doc_id = int(url.rsplit("/", 1)[1])
        if doc_id % 3 == 2:
            return 404, {}, b"not found"
        if doc_id % 3 == 1:
            body = "<p>tiny</p>"
        else:
            body = "<p>" + " ".join(f"word{doc_id}x{i}"
                                    for i in range(60)) + "</p>"
        return 200, {}, f"<html><body>{body}</body></html>".encode()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com/probe/"),
                 "doc_id").alias("url"))
    return probe_extractable(spark, urls, transport=synth_transport)


def q_explore_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sitemapSearch (sitemaps.dart:267-283 via
    crawl.live_sitemap_pages, the --explore discovery stage): per source
    host the synthetic transport serves robots.txt with a Sitemap:
    directive pointing at a sitemap INDEX whose two children split the
    host's documents by doc_id parity — the walker must follow the
    directive, recurse through the index, and attribute every page link
    to the child sitemap that listed it."""
    from trafilatura_spark.sources.crawl import live_sitemap_pages

    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("source", "doc_id").collect())
    by_source: dict[str, list[int]] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(int(r["doc_id"]))

    site: dict[str, bytes] = {}
    for source, ids in by_source.items():
        host = f"{source}.example.com"
        site[f"https://{host}/"] = b"<html><body>home</body></html>"
        site[f"https://{host}/robots.txt"] = \
            f"User-agent: *\nSitemap: https://{host}/si.xml\n".encode()
        site[f"https://{host}/si.xml"] = (
            '<?xml version="1.0"?><sitemapindex>'
            f"<sitemap><loc>https://{host}/sm-even.xml</loc></sitemap>"
            f"<sitemap><loc>https://{host}/sm-odd.xml</loc></sitemap>"
            "</sitemapindex>").encode()
        for par, name in ((0, "sm-even"), (1, "sm-odd")):
            locs = "".join(
                f"<url><loc>https://{host}/posts/{i}</loc></url>"
                for i in sorted(ids) if i % 2 == par)
            site[f"https://{host}/{name}.xml"] = \
                f'<?xml version="1.0"?><urlset>{locs}</urlset>'.encode()

    def transport(method, url, headers, timeout, max_bytes=None):
        body = site.get(url)
        if body is None:
            return 404, {}, b"not found"
        return 200, {}, b"" if method == "HEAD" else body

    seeds = [f"https://{s}.example.com/" for s in sorted(by_source)]
    return live_sitemap_pages(spark, seeds, transport=transport) \
        .select("sitemap_url", "link")


def q_feed_discovery_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live findFeedUrls (feeds.dart:368-431 via crawl.live_feed_pages,
    the --feed discovery stage): even-numbered sources seed the feed URL
    directly (extractLinks branch), odd-numbered sources seed the
    homepage whose rel=alternate link routes through determineFeed plus
    one more fetch round — both branches must surface exactly the
    host's /posts/{doc_id} articles."""
    from trafilatura_spark.sources.crawl import live_feed_pages

    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("source", "doc_id").collect())
    by_source: dict[str, list[int]] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(int(r["doc_id"]))

    site: dict[str, bytes] = {}
    seeds: list[str] = []
    for source, ids in by_source.items():
        host = f"{source}.example.com"
        items = "".join(f"<item><link>https://{host}/posts/{i}</link></item>"
                        for i in sorted(ids))
        site[f"https://{host}/rss.xml"] = (
            f'<?xml version="1.0"?><rss><channel>{items}'
            "</channel></rss>").encode()
        site[f"https://{host}/"] = (
            '<html><head><link rel="alternate" '
            'type="application/rss+xml" href="/rss.xml"></head>'
            "<body>home</body></html>").encode()
        n = int(source[3:])
        seeds.append(f"https://{host}/rss.xml" if n % 2 == 0
                     else f"https://{host}/")

    def transport(method, url, headers, timeout, max_bytes=None):
        body = site.get(url)
        if body is None:
            return 404, {}, b"not found"
        return 200, {}, b"" if method == "HEAD" else body

    return live_feed_pages(spark, sorted(seeds), transport=transport) \
        .select("seed", "link")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Charikar simhash fingerprint (deduplication.dart
    142-159 via content_fingerprint) — the Python token-hash simhash
    reproduced bit-for-bit by the DuckDB oracle (sha256 per token, 64
    bit-sums in SQL).  fingerprint=True mirrors the reference's non-txt
    format gate (core.dart:547-560)."""
    ex = _extract(spark, sf_dir, fingerprint=True)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("meta.fingerprint").alias("fingerprint"))


def q_serialize_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage CSV serialization (xml_utils.dart:564-595 xmltocsv):
    tab-joined url/fingerprint/hostname/title/text.  CSV is a non-txt
    format, so the fingerprint rides along (core.dart:547-560)."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="csv")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_extract_links_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — links=True (htmlprocessing.dart:506-559 convertTags
    ref branch + the pinned mixed-inline waiver, SURVEY §2.6): an inline
    anchor inside para1 must surface as ' [more N](https://r.example.com/N)'
    appended to the paragraph text, with surrounding text preserved."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   links=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="links")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — formatting=True (xml_utils.dart:395-450 markdown
    markers): h1 head gains '# ', a bold first word gains '**..**'."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   formatting=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="formatting")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_comments_off(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — comments=False over a corpus WITH comment sections:
    the commentlist block must vanish entirely (no comment spans, body
    spans unchanged)."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, with_comments=True)
    return _spans_flat(extract_documents(docs, opts))


def q_extract_no_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — images=False (the reference DEFAULT,
    settings.dart:138): graphic spans are dropped and offsets close up."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   images=False, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    return _spans_flat(extract_documents(docs, opts))


def q_extract_prune_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — prune_xpath (core.dart:232-244 pruneXpath; upstream
    trafilatura's XPath dialect translated by dom.xpath_to_css): the
    corpus injects a prunable block between para1 and para2 whose shape
    rotates by doc_id % 3, each removed by a DIFFERENT expression
    feature — exact @class match, contains(@id, ..), and attribute
    presence.  Pruned output must equal the plain head/para1/para2
    table (same oracle as images=False); an unpruned run would carry an
    extra 'p' span per doc and hash-mismatch."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   prune_patterns=('//div[@class="recipe-box"]',
                                   '//*[contains(@id, "extra-note")]',
                                   '//div[@data-zone]'),
                   **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="prunex")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — tables=True (the reference default; handleTable,
    main_extractor.dart:316-353): a 2×2 table between para1 and para2
    emits the table/row/cell span run at fixed offsets with
    by-construction cell texts."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="tables")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_no_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option matrix — tables=False (htmlprocessing.dart:45-48 adds the
    table tags to the cleaning list): the whole table vanishes and the
    output collapses to the plain head/para1/para2 run."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   tables=False, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="tables")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_gate_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOCK size gates probed exactly at the boundaries, ±1 char, with NO
    eligibility carve-outs (core.dart:299-301 + main_extractor.dart:612-629
    recoverWildText + baseline.dart:35-68): doc_id%8 rotates payload
    lengths 124/125/249/250/251 (plain <p>: duplication-sum and
    min_extracted_size=250 edges) and 199/200/201 (JSON-LD articleBody:
    min_output_size=200 edge on the baseline tier)."""
    opts = Options(fast=True, comments=False, with_metadata=True)
    docs = synthesize_documents_df(spark, sf_dir, template="gates")
    ex = extract_documents(docs, opts)
    return ex.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "tier",
        F.array_join(F.transform("spans", lambda s: s["text"]),
                     "|").alias("texts"))


def q_serialize_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage XML serialization (determineReturnString xml branch,
    core.dart:25-49 + buildXmlOutput xml_utils.dart:289-345): the
    extraction mapInPandas renders the output tree to the `<doc>` string
    in the same Arrow stage — exercises the job's --serialize xml sink."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="xml")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_serialize_tei(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage TEI serialization (determineReturnString xmltei branch,
    core.dart:25-49 + writeTeiTree/writeFullHeader
    xml_utils.dart:598-813): full header field set (titleStmt,
    publicationStmt, notesStmt fingerprint, sourceDesc sigle + biblFull,
    profileDesc abstract, encodingDesc application block) plus the
    checkTei body transform (body-level head → ab type=header)."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="xmltei")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_serialize_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage HTML serialization (determineReturnString html branch +
    buildHtmlOutput, htmlprocessing.dart:585-640): reverse tag
    conversion (head rend=h1 → h1, graphic → img) inside a minimal
    html/head/title/body document."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="html")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_extract_dedup_option(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-path duplicate filter (dedup=True — duplicateTest,
    deduplication.dart:335-349 via core.dart:304 +
    htmlprocessing.dart:335,375): the fixture repeats one
    >min_duplcheck_size paragraph 5 times; count-before-increment keeps
    the first max_repetitions+1 (=3) occurrences and prunes the rest
    before span emission."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   dedup=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="dedupopt")
    return _spans_flat(extract_documents(docs, opts))


def q_extract_author_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Author-blacklist filter (metadata.dart:638-743 authorBlacklist +
    cleanAndTrim): the synthetic corpus stamps author 'author {id%7}';
    blacklisting two of the seven rotations must null exactly those
    docs' author (the body has no byline, so the extract_author fallback
    finds nothing) while every other doc keeps its meta author in the
    normalize_authors title-cased form ('Author N') — the blacklist
    match itself is case-insensitive, which the oracle pins."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   author_blacklist=frozenset({"author 0", "author 3"}),
                   **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("meta.author").alias("author"))


def q_extract_url_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-blacklist gate (core.dart:163-199 urlBlacklist): docs whose
    canonical metadata URL is in the user blacklist (every doc_id%5==0)
    come out rejected/tier none before any extraction work; the
    blacklist is a driver-side config set, the reference's semantics —
    corpus-scale blacklists use the relational anti-join
    (discovery.filter_known) instead."""
    opts_rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .filter(F.col("doc_id") % 5 == 0)
                 .select("doc_id", "source").collect())
    blacklist = frozenset(
        f"https://{r['source']}.example.com/posts/{r['doc_id']}"
        for r in opts_rows)
    opts = Options(fast=True, comments=False, with_metadata=True,
                   url_blacklist=blacklist, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "status", "tier")


def q_extract_only_with_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """onlyWithMetadata gate (core.dart:163-199): odd docs ship a bare
    <title>-only head — title is recoverable but date and canonical URL
    are not, so the gate (requires date AND title AND url) must reject
    them; even docs keep the full metadata head and extract normally."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   only_with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="nometa")
    ex = extract_documents(docs, opts)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "status", "tier")


def q_extract_max_tree_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxTreeSize guard with the strip-hi second chance
    (core.dart:285-296): doc_id%3 rotates output trees of 3 / 11 / 25
    elements around max_tree_size=10 — the 11-element tree passes only
    because stripping <hi> brings it to 3; the 25-element tree stays at
    13 after the strip and must be rejected."""
    opts = Options(fast=True, comments=False, with_metadata=True,
                   formatting=True, max_tree_size=10, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir, template="treesize")
    ex = extract_documents(docs, opts)
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "status", "tier")


def q_serialize_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage txt serialization (determineReturnString txt branch,
    core.dart:25-105): YAML-ish metadata front-matter block + xmltotxt
    body rendering + trailing trim."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="txt")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_serialize_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stage JSON serialization (buildJsonOutput,
    xml_utils.dart:195-229): fixed key order, null id/license, empty
    comments, rendered text with trailing newline inside the field."""
    opts = Options(fast=True, comments=False, with_metadata=True, **RELAXED)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts, serialize="json")
    return ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "serialized")


def q_extract_default_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT-threshold behavior (no relaxed sizes): docs above
    min_extracted_size come out single-copy via the main pass; docs below
    it route through recoverWildText, which appends the paragraphs to the
    existing body AGAIN (reference-faithful duplication,
    main_extractor.dart:612-629).  Restricted to docs decisively clear of
    the 62/250-char gates so the class split is exact in SQL."""
    opts = Options(fast=True, comments=False, with_metadata=True)
    docs = synthesize_documents_df(spark, sf_dir)
    ex = extract_documents(docs, opts)
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = F.split("text", " ")
    n = F.size(w)
    head_len = F.length(F.array_join(F.slice(w, 1, 3), " "))
    h = F.floor((n - 2) / 2).cast("int")
    p1 = F.array_join(F.slice(w, 4, h), " ")
    p2 = F.array_join(F.slice(w, h + 4, n - h - 3), " ")
    l1 = head_len + F.length(p1) + F.length(p2)
    l2 = l1 + F.length(p1) + F.length(p2)
    eligible = (src
                .filter((F.length(p1) >= 72) & (F.length(p2) >= 72)
                        & ((l1 >= 260) | ((l1 <= 240) & (l2 >= 260))))
                .select("doc_id"))
    flat = ex.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "status", "tier", F.explode("spans").alias("s"))              .select("doc_id", "status", "tier",
                     F.col("s.offset").cast("long").alias("offset"),
                     F.col("s.kind").alias("kind"),
                     F.col("s.text").alias("text"))
    return flat.join(F.broadcast(eligible), "doc_id")


def q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.similarity import cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # brute-force top-k broadcasts the QUERY side and scans the corpus
    # once — right for small query sets (here 2% of vectors); for
    # query-set ≈ corpus use ann_lsh_topk (q_embedding_ann) instead
    tk = cosine_topk(emb, queries, k=5)
    return tk.select("query_id", F.col("rank").cast("long").alias("rank"),
                     "neighbor_id", "cosine")


def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (functions/similarity.ivf_topk): deterministic
    sampled coarse quantizer (vec_id%40), per-vector argmax cell
    assignment (broadcast join + map-side-combined reduce), queries
    probe their 4 nearest cells and brute-force only those cells.  The
    DuckDB oracle replays the identical pipeline, including the rounded
    argmax tie-break, so this pins the full IVF plumbing — not just
    top-k on a fixed subset."""
    from trafilatura_spark.functions.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    tk = ivf_topk(emb, queries, k=5, centroid_stride=40, n_probe=4)
    return tk.select("query_id", F.col("rank").cast("long").alias("rank"),
                     "neighbor_id", "cosine")


def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trafilatura_spark.functions.similarity import ann_lsh_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    tk = ann_lsh_topk(emb, queries, k=5, n_tables=ANN_TABLES, n_bits=ANN_BITS)
    return tk.select("query_id", F.col("rank").cast("long").alias("rank"),
                     "neighbor_id", "cosine")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: every 40th vector gets a
    scaled copy injected (x2 — same direction, cosine 1.0), then the
    LSH-bucketed pair finder must recover exactly the injected pairs plus
    any organically colinear pairs, cosine >= 0.99."""
    from trafilatura_spark.functions.similarity import embedding_near_dup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    injected = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * F.lit(2.0)).cast("float"))
        .alias("embedding"))
    pairs = embedding_near_dup_pairs(emb.unionByName(injected),
                                     threshold=0.99,
                                     n_tables=DEDUP_EMB_TABLES,
                                     n_bits=DEDUP_EMB_BITS)
    return pairs.select("a", "b", "cosine")


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB, over pre-registered views of the same parquet tables)
# ---------------------------------------------------------------------------

# shared fragments -----------------------------------------------------------

_PARTS = """
parts AS (
    SELECT doc_id,
           string_split(text, ' ') AS w,
           len(string_split(text, ' ')) AS n,
           doc_id % 3 AS m
    FROM documents
),
derived AS (
    SELECT doc_id, m,
           array_to_string(w[1:3], ' ') AS head,
           array_to_string(w[4:3 + (n - 2) // 2], ' ') AS para1,
           array_to_string(w[4 + (n - 2) // 2:n], ' ') AS para2
    FROM parts
)
"""

_ORACLE_EXTRACT_SPANS = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind, head AS text,
           '' AS media_ref FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', para1, '' FROM derived
    UNION ALL
    SELECT d.doc_id, 2 + g.i AS "offset", 'graphic',
           'figure ' || g.i, 'm-' || d.doc_id || '-' || g.i
    FROM derived d, LATERAL (SELECT unnest(generate_series(0, d.m - 1)) AS i) g
    WHERE d.m > 0
    UNION ALL
    SELECT doc_id, (m + 2)::BIGINT, 'p', para2, '' FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_EXTRACT_PDF = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind, head AS text,
           '' AS media_ref FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', para1, '' FROM derived
    UNION ALL
    SELECT d.doc_id, 2 + g.i AS "offset", 'graphic',
           (16 * (g.i + 1)) || 'x' || (9 * (g.i + 1)),
           'pdf:obj' || (8 + g.i)
    FROM derived d, LATERAL (SELECT unnest(generate_series(0, d.m - 1)) AS i) g
    WHERE d.m > 0
    UNION ALL
    SELECT doc_id, (m + 2)::BIGINT, 'p', para2, '' FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_ROUNDTRIP = """
SELECT doc_id, text AS extracted_text FROM documents
UNION ALL
SELECT doc_id + 10000000, text AS extracted_text FROM documents
"""

_ORACLE_COMMENTS = """
WITH c AS (
    SELECT doc_id, doc_id % 3 AS m, doc_id % 2 AS extra,
           array_to_string(list_slice(string_split(text, ' '),
                                      len(string_split(text, ' ')) - 3,
                                      len(string_split(text, ' '))),
                           ' ') AS tail4
    FROM documents
)
SELECT doc_id, (m + 3 + g.i)::BIGINT AS "offset",
       'comment ' || g.i || ' of doc ' || doc_id || ' says ' || tail4 AS text
FROM c, LATERAL (SELECT unnest(generate_series(0, c.extra)) AS i) g
ORDER BY doc_id, "offset"
"""

_ORACLE_WILDTEXT = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'p' AS kind, para1 AS text FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', para2 FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_METADATA = """
SELECT doc_id,
       'doc ' || doc_id || ' title' AS title,
       'Author ' || (doc_id % 7) AS author,
       'https://' || source || '.example.com/posts/' || doc_id AS url,
       source || '.example.com' AS hostname,
       upper(substr(source, 1, 1)) || substr(source, 2) AS sitename,
       'synthetic article ' || doc_id AS description
FROM documents
"""

_ORACLE_LANG_FILTER = """
SELECT doc_id, CASE WHEN lang = 'en' THEN 'ok' ELSE 'rejected' END AS status
FROM documents
"""

_ORACLE_METRICS = """
SELECT CASE WHEN lang = 'en' THEN 'ok' ELSE 'rejected' END AS status,
       count(*) AS docs
FROM documents GROUP BY 1
"""

_DUPED = """
duped AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
"""

_ORACLE_FALLBACK_READABILITY = f"""
WITH {_PARTS},
elig AS (
    SELECT d.doc_id, d.para1 || ' ' || d.para2 AS body
    FROM derived d JOIN parts p ON d.doc_id = p.doc_id
    WHERE p.n >= 15
)
SELECT * FROM (
    SELECT doc_id, 'readability' AS tier, 0::BIGINT AS "offset",
           'row' AS kind, '' AS text, '' AS media_ref FROM elig
    UNION ALL
    SELECT doc_id, 'readability', 1::BIGINT, 'cell', body, '' FROM elig
) ORDER BY doc_id, "offset"
"""

_ORACLE_FALLBACK_JUSTEXT = f"""
WITH {_PARTS},
elig AS (
    SELECT d.doc_id, d.para1 || ' ' || d.para2 AS body
    FROM derived d JOIN parts p ON d.doc_id = p.doc_id
    WHERE p.n >= 15
)
SELECT doc_id, 'justext' AS tier, 0::BIGINT AS "offset",
       'p' AS kind, body AS text, '' AS media_ref
FROM elig ORDER BY doc_id
"""

_DECONTAM_N = 8

# normalized token n-grams (lower + [^a-z0-9]+ -> ' ' + trim), whole-text
# fallback below n tokens — exact mirror of dedup.normalized_token_ngrams
_DECONTAM_NGRAMS = f"""
norm AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
    FROM documents
),
doc_grams AS (
    SELECT doc_id, unnest(
        CASE WHEN len(string_split(t, ' ')) < {_DECONTAM_N} THEN [t]
             ELSE list_transform(
                 generate_series(1, len(string_split(t, ' ')) - {_DECONTAM_N - 1}),
                 i -> array_to_string(
                     list_slice(string_split(t, ' '), i, i + {_DECONTAM_N - 1}),
                     ' '))
        END) AS ngram
    FROM norm
),
eval_grams AS (
    SELECT doc_id + 5000000 AS eval_id, unnest(list_distinct(
        CASE WHEN len(string_split(t, ' ')) < {_DECONTAM_N} THEN [t]
             ELSE list_transform(
                 generate_series(1, len(string_split(t, ' ')) - {_DECONTAM_N - 1}),
                 i -> array_to_string(
                     list_slice(string_split(t, ' '), i, i + {_DECONTAM_N - 1}),
                     ' '))
        END)) AS ngram
    FROM norm WHERE doc_id % 17 = 0
)
"""

_ORACLE_DEDUP_EXACT = f"""
WITH {_DUPED}, {_DECONTAM_NGRAMS}
SELECT 'exact' AS variant, md5(text) AS text_md5, count(*) AS dup_count,
       min(doc_id) AS canonical_id,
       -1::BIGINT AS doc_id, -1::BIGINT AS eval_id,
       -1::BIGINT AS matched_ngrams
FROM duped GROUP BY 2 HAVING count(*) > 1
UNION ALL
SELECT 'decontam' AS variant, '' AS text_md5, -1::BIGINT AS dup_count,
       -1::BIGINT AS canonical_id,
       d.doc_id, e.eval_id, count(*) AS matched_ngrams
FROM doc_grams d JOIN eval_grams e USING (ngram)
WHERE ngram <> ''  -- mirror contamination_matches' empty-ngram guard
GROUP BY d.doc_id, e.eval_id
"""

_SHINGLES = f"""
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(string_split(text, ' ')) < {SHINGLE_K}
             THEN [text]
             ELSE list_transform(
                 generate_series(1, len(string_split(text, ' ')) - {SHINGLE_K - 1}),
                 i -> array_to_string(
                     list_slice(string_split(text, ' '), i, i + {SHINGLE_K - 1}),
                     ' '))
        END)) AS shingle
    FROM duped
)
"""

_MINHASH_WORD_PAIR_CTES = f"""
{_DUPED}, {_SHINGLES},
hashed AS (
    SELECT doc_id, md5(shingle) AS h0 FROM sh
),
seeded AS (
    -- one md5 per shingle; per-seed value = digest rotated left by 4*seed
    -- hex chars (mirrors minhash_signatures)
    SELECT doc_id, s.seed,
           substr(h0, s.seed * 4 + 1, 32 - s.seed * 4)
           || substr(h0, 1, s.seed * 4) AS h
    FROM hashed, LATERAL (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed) s
),
sig AS (
    SELECT doc_id, list(mh ORDER BY seed) AS sig
    FROM (SELECT doc_id, seed, min(h) AS mh FROM seeded GROUP BY 1, 2)
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, b.b AS band_idx,
           md5(array_to_string(list_slice(sig, b.b * {BAND_SIZE} + 1,
                                          (b.b + 1) * {BAND_SIZE}), '|')) AS band_hash
    FROM sig, LATERAL (SELECT unnest(generate_series(0, {N_HASHES // BAND_SIZE - 1})) AS b) b
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
),
sets AS (
    SELECT doc_id, list(DISTINCT shingle) AS shset FROM sh GROUP BY doc_id
),
word_pairs AS (
    SELECT id_a, id_b,
           round(len(list_intersect(a.shset, b.shset))::DOUBLE
                 / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
    FROM cand JOIN sets a ON cand.id_a = a.doc_id
              JOIN sets b ON cand.id_b = b.doc_id
    WHERE round(len(list_intersect(a.shset, b.shset))::DOUBLE
                / len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5
)
"""

# all three near-dup paths in ONE row set, keyed by `variant` (mirrors
# the merged q_dedup_minhash; the char branch nests its own CTE chain as
# a subquery so the two chains cannot collide; the incremental branch is
# word_pairs restricted to batch-touching ids — that restriction IS the
# incremental contract)
_ORACLE_DEDUP_MINHASH = f"""
WITH {_MINHASH_WORD_PAIR_CTES.strip()}
SELECT id_a, id_b, jaccard, 'word' AS variant FROM word_pairs
UNION ALL
-- the incremental batch-vs-store path returns exactly the full-run
-- pairs touching a new (injected, id >= 1e6) doc
SELECT id_a, id_b, jaccard, 'incremental' AS variant FROM word_pairs
WHERE id_a >= 1000000 OR id_b >= 1000000
UNION ALL
SELECT id_a, id_b, jaccard, 'char' AS variant FROM (
WITH duped AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' tail' || doc_id
    FROM documents WHERE doc_id % 10 = 0
),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(text) < 12 THEN [text]
             ELSE list_transform(generate_series(1, len(text) - 11),
                                 i -> substr(text, i, 12))
        END)) AS shingle
    FROM duped
),
hashed AS (
    SELECT doc_id, md5(shingle) AS h0 FROM sh
),
seeded AS (
    SELECT doc_id, s.seed,
           substr(h0, s.seed * 4 + 1, 32 - s.seed * 4)
           || substr(h0, 1, s.seed * 4) AS h
    FROM hashed, LATERAL (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed) s
),
sig AS (
    SELECT doc_id, list(mh ORDER BY seed) AS sig
    FROM (SELECT doc_id, seed, min(h) AS mh FROM seeded GROUP BY 1, 2)
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, b.b AS band_idx,
           md5(array_to_string(list_slice(sig, b.b * {BAND_SIZE} + 1,
                                          (b.b + 1) * {BAND_SIZE}), '|')) AS band_hash
    FROM sig, LATERAL (SELECT unnest(generate_series(0, {N_HASHES // BAND_SIZE - 1})) AS b) b
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
),
sets AS (
    SELECT doc_id, list(DISTINCT shingle) AS shset FROM sh GROUP BY doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(a.shset, b.shset))::DOUBLE
             / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
FROM cand JOIN sets a ON cand.id_a = a.doc_id
          JOIN sets b ON cand.id_b = b.doc_id
WHERE round(len(list_intersect(a.shset, b.shset))::DOUBLE
            / len(list_distinct(list_concat(a.shset, b.shset))), 6) >= 0.5
)
"""

# pairs -> connected components -> canonical survivor, as a recursive
# CTE (transitive reachability; min id per component = cluster_id) —
# the independent mirror of functions/dedup.resolve_clusters
_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_WORD_PAIR_CTES.strip()},
edges AS (
    SELECT id_a AS src, id_b AS dst FROM word_pairs
    UNION
    SELECT id_b, id_a FROM word_pairs
),
reach(doc_id, cluster_id) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.cluster_id
    FROM edges e JOIN reach r ON r.doc_id = e.src
)
SELECT doc_id, min(cluster_id) AS cluster_id,
       doc_id = min(cluster_id) AS is_survivor
FROM reach GROUP BY doc_id
"""


_ORACLE_DEDUP_SIMHASH = """
WITH th AS (
    SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 8))::BIGINT AS h
    FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) t
),
bits AS (
    SELECT doc_id, b.b,
           sum(CASE WHEN (h // (2 ** b.b)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, LATERAL (SELECT unnest(generate_series(0, 31)) AS b) b
    GROUP BY 1, 2
),
simh AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (2 ** b)::BIGINT ELSE 0 END)::BIGINT AS fp_simhash
    FROM bits GROUP BY doc_id
)
SELECT d.doc_id, md5(d.text) AS fp_md5, simh.fp_simhash,
       list_reduce(
           list_prepend(0::BIGINT,
                        list_transform(string_split(d.text, ' '),
                                       tok -> ('0x' || substr(md5(tok), 1, 8)
                                              )::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007) AS fp_rolling
FROM documents d JOIN simh USING (doc_id)
"""

_ORACLE_SEGMENT_DEDUP = f"""
WITH tripled AS (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
),
parts AS (
    SELECT doc_id, string_split(text, ' ') AS w,
           len(string_split(text, ' ')) AS n
    FROM tripled
),
segs AS (
    SELECT array_to_string(w[4:3 + (n - 2) // 2], ' ') AS segment FROM parts
    UNION ALL
    SELECT array_to_string(w[4 + (n - 2) // 2:n], ' ') FROM parts
)
SELECT md5(segment) AS segment_md5, count(*) AS occurrences
FROM segs GROUP BY 1 HAVING count(*) > 2
"""

def _lang_sql() -> str:
    """DuckDB mirror of textstats.lang_id: stopword-overlap scores plus a
    Han-codepoint count for zh (RE2 '[\\p{Han}]' ≡ Spark's Java
    '\\p{IsHan}'; eligible only when Han ≥ 1/4 of codepoints, capped at
    the 10-word stopword scale), argmax with alphabetical-first
    tie-break ('zh' last — the generated >= chain in sorted-language
    order encodes that)."""
    langs = sorted(_LANGS) + ["zh"]
    exprs = ", ".join(
        f"len(list_intersect(toks, {[w for w in words]})) AS s_{lang}"
        for lang, words in sorted(_LANGS.items()))
    exprs += (", CASE WHEN len(regexp_extract_all(text, '[\\p{Han}]')) * 4"
              " >= len(text)"
              " THEN least(len(regexp_extract_all(text, '[\\p{Han}]')), 10)"
              " ELSE 0 END AS s_zh")
    case = [f"CASE WHEN greatest({', '.join('s_' + l for l in langs)}) = 0 "
            "THEN 'und'"]
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{m}" for m in langs[i + 1:])
        case.append(f"WHEN {conds} THEN '{lang}'")
    case.append(f"ELSE '{langs[-1]}' END")
    return f"""
WITH t AS (
    SELECT doc_id, text, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
),
s AS (SELECT doc_id, {exprs} FROM t)
SELECT doc_id,
       {' '.join(case)} AS predicted_lang
FROM s
"""


_EN_STOP = _LANGS["en"] + ["was", "on", "are", "as", "with", "his", "they",
                           "at", "be", "this"]

_ORACLE_QUALITY = f"""
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
)
SELECT doc_id, n::BIGINT AS n_tokens,
       len(regexp_extract_all(text,
           '\'\'(?:[sdmt]|ll|ve|re)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'
           ))::BIGINT AS n_tokens_bpe,
       round((length(text) - (n - 1)) / n::DOUBLE, 6) AS avg_token_len,
       round(least(n / 80.0, 1.0) * 0.4
             + (len(list_intersect(list_distinct(toks), {_EN_STOP}))::DOUBLE
                / {float(len(_EN_STOP))}) * 0.3
             + (len(list_distinct(toks))::DOUBLE / n) * 0.3, 6) AS quality,
       round(list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d))))::DOUBLE / n,
             6) AS top_token_frac,
       CASE WHEN n // 2 = 0 THEN 0.0::DOUBLE
            ELSE round(1.0 - len(list_distinct(list_transform(
                     range(1, n // 2 + 1),
                     i -> array_to_string(toks[((i-1)*2+1):((i-1)*2+2)],
                                          ' '))))::DOUBLE / (n // 2), 6)
       END AS dup_ngram_frac
FROM t
"""

_ORACLE_RENDER = f"""
WITH {_PARTS}
SELECT doc_id,
       head || chr(10) || para1 || chr(10) ||
       CASE m
         WHEN 0 THEN ''
         WHEN 1 THEN '![figure 0](m-' || doc_id || '-0) '
         ELSE '![figure 0](m-' || doc_id || '-0) ![figure 1](m-' || doc_id || '-1) '
       END || para2 || chr(10) AS rendered
FROM derived
"""

_ORACLE_MEDIA = """
-- Fake-codec rows mirror the FAKE0 header math; real-codec rows mirror
-- what the BMP/PPM/GIF decoders must produce for the generator's
-- grayscale gradient luma(x,y) = base + x + y (no wraparound by
-- construction): luma_sum in closed form, and the 8x8 average-hash
-- bits recomputed from exact per-block sums (bit k = j*8 + i, two
-- zero-padded 32-bit hex halves — the decoder's sign-safe rendering).
WITH refs AS (
    SELECT 'm-' || doc_id || '-' || g.i AS media_ref
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0, doc_id % 3 - 1)) AS i) g
    WHERE doc_id % 3 > 0
),
hb AS (
    SELECT media_ref,
           ('0x' || substr(md5(media_ref), 1, 2))::BIGINT AS h0,
           ('0x' || substr(md5(media_ref), 3, 2))::BIGINT AS h1,
           ('0x' || substr(md5(media_ref), 5, 2))::BIGINT AS h2,
           ('0x' || substr(md5(media_ref), 11, 2))::BIGINT AS h5
    FROM refs
),
fake AS (
    SELECT media_ref, 'fake' AS codec,
           64 + h0 * 4 AS width, 64 + h1 * 4 AS height,
           3::BIGINT AS channels, NULL::BIGINT AS luma_sum,
           substr(md5(media_ref), 1, 16) AS phash
    FROM hb
),
gif AS (
    SELECT media_ref, 'gif' AS codec,
           16 + h0 AS width, 16 + h1 AS height,
           NULL::BIGINT AS channels, NULL::BIGINT AS luma_sum,
           NULL::VARCHAR AS phash
    FROM hb WHERE h5 % 3 = 2
),
-- WAV pass: sawtooth s_i = ((i*step + off) % 2048) - 1024; n, rate,
-- step, off md5-derived — recompute peak and sum-of-squares exactly
wav AS (
    SELECT hb.media_ref,
           (4000 + 100 * (h6 % 5))::BIGINT AS sample_rate,
           (200 + h0 * 2)::BIGINT AS n_samples,
           max(abs(s.v))::BIGINT AS peak,
           sum(s.v * s.v)::BIGINT AS sq_sum
    FROM (SELECT *, ('0x' || substr(md5(media_ref), 13, 2))::BIGINT AS h6,
                 ('0x' || substr(md5(media_ref), 7, 2))::BIGINT AS h3
          FROM hb) hb,
         LATERAL (
             SELECT ((g.i * (1 + h2) + 8 * h3) % 2048) - 1024 AS v
             FROM (SELECT unnest(generate_series(
                       0, 200 + h0 * 2 - 1)) AS i) g) s
    GROUP BY hb.media_ref, h6, h0
),
-- AVI pass: per-frame 8x8 average-hash of luma(x,y) = base_f + x + y;
-- base_f shifts block and whole-frame means equally so it cancels out
-- of the exact-integer comparison — one closed-form phash per ref,
-- replicated over generate_series(0, n_frames-1) with the frame index
-- and timestamp (f * period_us // 1000) encoded into the key
vt AS (
    SELECT media_ref,
           1 + ('0x' || substr(md5(media_ref), 15, 2))::BIGINT % 3 AS bx,
           1 + ('0x' || substr(md5(media_ref), 17, 2))::BIGINT % 3 AS by,
           2 + ('0x' || substr(md5(media_ref), 19, 2))::BIGINT % 6
               AS n_frames,
           (20 + ('0x' || substr(md5(media_ref), 21, 2))::BIGINT % 30)
               * 1000 AS period_us,
           8 * (1 + ('0x' || substr(md5(media_ref), 15, 2))::BIGINT % 3)
               AS w,
           8 * (1 + ('0x' || substr(md5(media_ref), 17, 2))::BIGINT % 3)
               AS h
    FROM refs
),
vtot AS (
    SELECT *, h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2) AS total
    FROM vt
),
vbits AS (
    SELECT t.media_ref, j.j * 8 + i.i AS k,
           CASE WHEN (by * (bx * bx * i.i + bx * (bx - 1) // 2)
                      + bx * (by * by * j.j + by * (by - 1) // 2))
                     * w * h > total * bx * by
                THEN 1 ELSE 0 END AS bit
    FROM vtot t,
         (SELECT unnest(generate_series(0, 7)) AS i) i,
         (SELECT unnest(generate_series(0, 7)) AS j) j
),
vph AS (
    SELECT media_ref,
           printf('%08x%08x',
               sum(CASE WHEN bit = 1 AND k >= 32
                        THEN (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT,
               sum(CASE WHEN bit = 1 AND k < 32
                        THEN (1::BIGINT << k) ELSE 0 END)::BIGINT) AS phash
    FROM vbits GROUP BY media_ref
),
dims AS (
    SELECT media_ref,
           CASE WHEN h5 % 3 = 0 THEN 'bmp' ELSE 'ppm' END AS codec,
           1 + h0 % 3 AS bx, 1 + h1 % 3 AS by, h2 // 2 AS base,
           8 * (1 + h0 % 3) AS w, 8 * (1 + h1 % 3) AS h
    FROM hb WHERE h5 % 3 < 2
),
tot AS (
    SELECT *, w * h * base + h * (w * (w - 1) // 2)
              + w * (h * (h - 1) // 2) AS total
    FROM dims
),
bits AS (
    SELECT t.media_ref, j.j * 8 + i.i AS k,
           CASE WHEN (bx * by * base
                      + by * (bx * bx * i.i + bx * (bx - 1) // 2)
                      + bx * (by * by * j.j + by * (by - 1) // 2))
                     * w * h > total * bx * by
                THEN 1 ELSE 0 END AS bit
    FROM tot t,
         (SELECT unnest(generate_series(0, 7)) AS i) i,
         (SELECT unnest(generate_series(0, 7)) AS j) j
),
ph AS (
    SELECT media_ref,
           printf('%08x%08x',
               sum(CASE WHEN bit = 1 AND k >= 32
                        THEN (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT,
               sum(CASE WHEN bit = 1 AND k < 32
                        THEN (1::BIGINT << k) ELSE 0 END)::BIGINT) AS phash
    FROM bits GROUP BY media_ref
),
-- resize pass: output pixel (X, Y) of the exact 8x8 box-average is the
-- floor mean of source block [X*bx,(X+1)*bx) x [Y*by,(Y+1)*by) — for
-- the gradient that block sums to bx*by*base + by*Sx + bx*Sy, the same
-- per-block sums the phash bits use; the resized phash compares each
-- pixel against the resized total (single-pixel blocks: v*64 > total)
rpix AS (
    SELECT d.media_ref, d.codec, i.i AS X, j.j AS Y,
           (bx * by * base
            + by * (bx * bx * i.i + bx * (bx - 1) // 2)
            + bx * (by * by * j.j + by * (by - 1) // 2)) // (bx * by) AS v
    FROM dims d,
         (SELECT unnest(generate_series(0, 7)) AS i) i,
         (SELECT unnest(generate_series(0, 7)) AS j) j
),
rsum AS (
    SELECT media_ref, sum(v)::BIGINT AS luma_sum FROM rpix GROUP BY media_ref
),
rph AS (
    SELECT p.media_ref,
           printf('%08x%08x',
               sum(CASE WHEN p.v * 64 > s.luma_sum AND p.Y * 8 + p.X >= 32
                        THEN (1::BIGINT << (p.Y * 8 + p.X - 32))
                        ELSE 0 END)::BIGINT,
               sum(CASE WHEN p.v * 64 > s.luma_sum AND p.Y * 8 + p.X < 32
                        THEN (1::BIGINT << (p.Y * 8 + p.X))
                        ELSE 0 END)::BIGINT) AS phash
    FROM rpix p JOIN rsum s USING (media_ref) GROUP BY p.media_ref
)
SELECT *, NULL::BIGINT AS sample_rate, NULL::BIGINT AS n_samples,
       NULL::BIGINT AS peak, NULL::BIGINT AS sq_sum
FROM fake
UNION ALL
SELECT *, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT FROM gif
UNION ALL
SELECT t.media_ref, t.codec, t.w AS width, t.h AS height,
       3::BIGINT AS channels, t.total AS luma_sum, ph.phash,
       NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
FROM tot t JOIN ph USING (media_ref)
UNION ALL
SELECT media_ref, 'wav' AS codec, NULL::BIGINT AS width,
       NULL::BIGINT AS height, 1::BIGINT AS channels,
       NULL::BIGINT AS luma_sum, NULL::VARCHAR AS phash,
       sample_rate, n_samples, peak, sq_sum
FROM wav
UNION ALL
SELECT v.media_ref || '#' || f.f || '@' || (f.f * v.period_us // 1000)
           AS media_ref,
       'avi' AS codec, NULL::BIGINT AS width, NULL::BIGINT AS height,
       NULL::BIGINT AS channels, NULL::BIGINT AS luma_sum, vph.phash,
       NULL::BIGINT AS sample_rate, NULL::BIGINT AS n_samples,
       NULL::BIGINT AS peak, NULL::BIGINT AS sq_sum
FROM vtot v JOIN vph USING (media_ref),
     LATERAL (SELECT unnest(generate_series(0, v.n_frames - 1)) AS f) f
UNION ALL
SELECT d.media_ref || '#rz' AS media_ref, 'rz-' || d.codec AS codec,
       8::BIGINT AS width, 8::BIGINT AS height, 3::BIGINT AS channels,
       rsum.luma_sum, rph.phash,
       NULL::BIGINT AS sample_rate, NULL::BIGINT AS n_samples,
       NULL::BIGINT AS peak, NULL::BIGINT AS sq_sum
FROM dims d JOIN rsum USING (media_ref) JOIN rph USING (media_ref)
"""

_ORACLE_SITEMAP = """
SELECT source,
       (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::BIGINT AS pos,
       'https://' || source || '.example.com/posts/' || doc_id AS url
FROM documents
"""

_ORACLE_SITEMAP_INDEX = """
SELECT DISTINCT
       'https://' || source || '.example.com/sitemap-' || (doc_id % 5)
           || '.xml' AS sitemap_url,
       'https://' || source || '.example.com/posts/' || doc_id AS link
FROM documents
"""

_ORACLE_FEEDS = """
SELECT DISTINCT
       'https://' || source || '.example.com/feed' AS url,
       'https://' || source || '.example.com/posts/' || doc_id AS link
FROM documents
"""

_ORACLE_CRAWL_LINKS = """
WITH p AS (
    SELECT doc_id,
           'https://' || source || '.example.com' AS base,
           'https://' || source || '.example.com/a' || doc_id AS dir0
    FROM documents
)
SELECT src, url FROM (
    SELECT dir0 || '/index.html' AS src,
           base || '/p/' || doc_id AS url FROM p
    UNION ALL
    SELECT dir0 || '/index.html',
           dir0 || '/rel' || doc_id || '.html' FROM p
    UNION ALL
    SELECT dir0 || '/index.html',
           base || '/pp/' || doc_id FROM p
    UNION ALL
    -- ../up{id}.html against dir https://host/a{id}/ collapses to the
    -- host root (RFC 3986 dot-segment removal)
    SELECT dir0 || '/index.html',
           base || '/up' || doc_id || '.html' FROM p
    UNION ALL
    -- /frag{id}#sec keeps the path with the fragment stripped
    SELECT dir0 || '/index.html',
           base || '/frag' || doc_id FROM p
)
"""

_ORACLE_PROBE_EXTRACTABLE = """
-- probeHomepage gate: only the id%3==0 URLs serve a page whose
-- whole-page text clears the 250-char default; id%3==1 is a tiny page,
-- id%3==2 a 404
SELECT 'https://' || source || '.example.com/probe/' || doc_id AS url
FROM documents WHERE doc_id % 3 = 0
"""

_ORACLE_EXPLORE_SITEMAPS = """
-- the index walker attributes each /posts/{id} page to the parity child
-- sitemap that listed it
SELECT 'https://' || source || '.example.com/sm-'
       || CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END
       || '.xml' AS sitemap_url,
       'https://' || source || '.example.com/posts/' || doc_id AS link
FROM documents
"""

_ORACLE_FEED_LIVE = """
-- both findFeedUrls branches surface the host's /posts/{id} set; the
-- seed column records which branch (direct feed vs homepage) ran
SELECT 'https://' || source || '.example.com'
       || CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
               THEN '/rss.xml' ELSE '/' END AS seed,
       'https://' || source || '.example.com/posts/' || doc_id AS link
FROM documents
"""

_ORACLE_STREAMING_FRONTIER = """
WITH u AS (
    SELECT source || '.example.com' AS host,
           'https://' || source || '.example.com/posts/' || (doc_id % 40)
           AS url
    FROM documents
),
r AS (
    SELECT host, url, row_number() OVER (PARTITION BY host, url) AS rn
    FROM u
)
SELECT host, url, (rn = 1) AS accepted FROM r
"""

_ORACLE_NAV_PRIORITY = """
WITH urls AS (
    SELECT DISTINCT
           'https://' || source || '.example.com' ||
           CASE doc_id % 4
                WHEN 0 THEN '/posts/' || doc_id
                WHEN 1 THEN '/category/' || doc_id
                WHEN 2 THEN '/page/' || doc_id
                ELSE '/2024/' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0')
           END AS url
    FROM documents
),
flagged AS (
    SELECT url,
           CASE WHEN lower(url) LIKE '%/page/%'
                  OR lower(url) LIKE '%/category/%'
                  OR lower(url) LIKE '%/tag/%'
                  OR lower(url) LIKE '%/author/%'
                  OR lower(url) LIKE '%/archive%'
                  OR regexp_matches(url, '/\\d{4}/\\d{2}/?$')
                THEN 1 ELSE 0 END AS is_nav,
           split_part(url, '/', 3) AS host
    FROM urls
),
ranked AS (
    SELECT url, is_nav,
           row_number() OVER (PARTITION BY host
                              ORDER BY is_nav DESC, url ASC) AS rn
    FROM flagged
)
SELECT url, is_nav FROM ranked WHERE rn <= 5
"""

_ORACLE_ROBOTS = """
SELECT DISTINCT
       'https://' || source || '.example.com' ||
       CASE doc_id % 3
            WHEN 0 THEN '/private/' || doc_id
            WHEN 1 THEN '/posts/' || doc_id
            ELSE '/private/allowed/' || doc_id
       END AS url
FROM documents
WHERE doc_id % 3 <> 0
"""


_FINGERPRINT_CTE = rf"""
{_PARTS},
content AS (
    SELECT doc_id, m, head, para1, para2,
       'doc ' || doc_id || ' title' || ' ' ||
       head || chr(10) || para1 || chr(10) ||
       CASE m WHEN 0 THEN ''
              WHEN 1 THEN '![figure 0](m-' || doc_id || '-0) '
              ELSE '![figure 0](m-' || doc_id || '-0) ![figure 1](m-'
                   || doc_id || '-1) '
       END || para2 || chr(10) AS s
    FROM derived
),
rawtok AS (
    SELECT doc_id, unnest(regexp_split_to_array(s, '\s+')) AS t FROM content
),
stripped AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(t, '^\W+', ''), '\W+$', '') AS t
    FROM rawtok WHERE t <> ''
),
tok AS (
    SELECT doc_id, t FROM stripped
    WHERE t <> '' AND regexp_full_match(t, '[0-9A-Za-z\x{{0080}}-\x{{10FFFF}}]+')
),
th AS (
    SELECT doc_id,
        CASE WHEN count(*) FILTER (len(t) > 4) >= 32 THEN 4
             WHEN count(*) FILTER (len(t) > 3) >= 32 THEN 3
             WHEN count(*) FILTER (len(t) > 2) >= 32 THEN 2
             WHEN count(*) FILTER (len(t) > 1) >= 32 THEN 1
             ELSE 0 END AS thr
    FROM tok GROUP BY doc_id
),
seltok AS (
    SELECT tok.doc_id, substr(sha256(t), 1, 16) AS hh
    FROM tok JOIN th USING (doc_id) WHERE len(t) > thr
),
bits AS (
    SELECT doc_id, i.i AS i,
           ((strpos('0123456789abcdef', substr(hh, 16 - (i.i // 4), 1)) - 1)
            >> (i.i % 4)) & 1 AS b
    FROM seltok, LATERAL (SELECT unnest(range(0, 64)) AS i) i
),
perbit AS (
    SELECT doc_id, i, sum(b) AS s, count(*) AS t
    FROM bits GROUP BY doc_id, i
),
fp AS (
    SELECT doc_id,
           lower(to_hex(sum(CASE WHEN 2 * s >= t
                                 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END
                            )::UBIGINT)) AS fingerprint
    FROM perbit GROUP BY doc_id
)
"""

_ORACLE_DOC_FINGERPRINT = f"""
WITH {_FINGERPRINT_CTE}
SELECT doc_id, fingerprint FROM fp ORDER BY doc_id
"""

_ORACLE_SERIALIZE_CSV = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       'https://' || d.source || '.example.com/posts/' || c.doc_id
       || chr(9) || 'null'
       || chr(9) || fp.fingerprint
       || chr(9) || d.source || '.example.com'
       || chr(9) || 'doc ' || c.doc_id || ' title'
       || chr(9) || 'null'
       || chr(9) || '2024-' || lpad((c.doc_id % 12 + 1)::VARCHAR, 2, '0')
       || '-' || lpad((c.doc_id % 28 + 1)::VARCHAR, 2, '0')
       || chr(9) || regexp_replace(c.head || ' ' || c.para1 || ' ' ||
              CASE c.m WHEN 0 THEN ''
                   WHEN 1 THEN '![figure 0](m-' || c.doc_id || '-0) '
                   ELSE '![figure 0](m-' || c.doc_id || '-0) ![figure 1](m-'
                        || c.doc_id || '-1) '
              END || c.para2 || ' ', chr(9), ' ', 'g')
       || chr(9) || ''
       || chr(9) || 'null'
       || chr(9) || 'null' AS serialized
FROM content c JOIN fp USING (doc_id) JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
"""

_ORACLE_LINKS_MODE = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind, head AS text,
           '' AS media_ref FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p',
           para1 || ' [more ' || doc_id || '](https://r.example.com/'
           || doc_id || ')', '' FROM derived
    UNION ALL
    SELECT doc_id, 2::BIGINT, 'p', para2, '' FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_FORMATTING = f"""
WITH {_PARTS},
fmt AS (
    SELECT p.doc_id,
           array_to_string(p.w[1:3], ' ') AS head,
           p.w[4] AS w1,
           array_to_string(p.w[5:3 + (p.n - 2) // 2], ' ') AS rest1,
           array_to_string(p.w[4 + (p.n - 2) // 2:p.n], ' ') AS para2
    FROM parts p
)
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind,
           '# ' || head AS text, '' AS media_ref FROM fmt
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', '**' || w1 || '** ' || rest1, '' FROM fmt
    UNION ALL
    SELECT doc_id, 2::BIGINT, 'p', para2, '' FROM fmt
) ORDER BY doc_id, "offset"
"""

_ORACLE_NO_IMAGES = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind, head AS text,
           '' AS media_ref FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', para1, '' FROM derived
    UNION ALL
    SELECT doc_id, 2::BIGINT, 'p', para2, '' FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_TABLES = f"""
WITH {_PARTS}
SELECT * FROM (
    SELECT doc_id, 0::BIGINT AS "offset", 'head' AS kind, head AS text,
           '' AS media_ref FROM derived
    UNION ALL
    SELECT doc_id, 1::BIGINT, 'p', para1, '' FROM derived
    UNION ALL
    SELECT doc_id, 2::BIGINT, 'table', '', '' FROM derived
    UNION ALL
    SELECT doc_id, 3::BIGINT, 'row', '', '' FROM derived
    UNION ALL
    SELECT doc_id, 4::BIGINT, 'cell', 'cell 00 of ' || doc_id, '' FROM derived
    UNION ALL
    SELECT doc_id, 5::BIGINT, 'cell', 'cell 01 of ' || doc_id, '' FROM derived
    UNION ALL
    SELECT doc_id, 6::BIGINT, 'row', '', '' FROM derived
    UNION ALL
    SELECT doc_id, 7::BIGINT, 'cell', 'cell 10 of ' || doc_id, '' FROM derived
    UNION ALL
    SELECT doc_id, 8::BIGINT, 'cell', 'cell 11 of ' || doc_id, '' FROM derived
    UNION ALL
    SELECT doc_id, 9::BIGINT, 'p', para2, '' FROM derived
) ORDER BY doc_id, "offset"
"""

_ORACLE_DEDUP_OPTION = f"""
WITH {_PARTS},
dup AS (
    SELECT doc_id, trim(repeat('dup' || doc_id || ' ', 25)) AS p
    FROM documents
)
SELECT * FROM (
    SELECT d.doc_id, 0::BIGINT AS "offset", 'head' AS kind, d.head AS text,
           '' AS media_ref FROM derived d
    UNION ALL
    SELECT u.doc_id, g.i::BIGINT, 'p', u.p, ''
    FROM dup u, LATERAL (SELECT unnest(generate_series(1, 3)) AS i) g
    UNION ALL
    SELECT d.doc_id, 4::BIGINT, 'p', d.para2, '' FROM derived d
) ORDER BY doc_id, "offset"
"""

_ORACLE_GATE_BOUNDARIES = """
WITH pay AS (
    SELECT doc_id, doc_id % 8 AS r,
           CASE doc_id % 8
               WHEN 0 THEN 124 WHEN 1 THEN 125 WHEN 2 THEN 249
               WHEN 3 THEN 250 WHEN 4 THEN 251 WHEN 5 THEN 199
               WHEN 6 THEN 200 ELSE 201 END AS L
    FROM documents
),
txt AS (
    SELECT doc_id, r, L,
           CASE WHEN L % 5 = 0
                THEN repeat('gate ', L // 5 - 1) || 'gates'
                ELSE repeat('gate ', L // 5) || repeat('g', L % 5)
           END AS p
    FROM pay
)
SELECT doc_id,
       CASE WHEN r IN (0, 5) THEN 'empty' ELSE 'ok' END AS status,
       CASE WHEN r IN (0, 5, 6, 7) THEN 'baseline' ELSE 'main' END AS tier,
       CASE WHEN r IN (0, 5) THEN ''
            WHEN r IN (1, 2) THEN p || '|' || p
            ELSE p END AS texts
FROM txt ORDER BY doc_id
"""

_ORACLE_SERIALIZE_XML = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       '<doc sitename="' || upper(substr(d.source, 1, 1)) || substr(d.source, 2)
       || '" title="doc ' || c.doc_id || ' title"'
       || ' author="Author ' || (c.doc_id % 7) || '"'
       || ' date="2024-' || lpad((c.doc_id % 12 + 1)::VARCHAR, 2, '0')
       || '-' || lpad((c.doc_id % 28 + 1)::VARCHAR, 2, '0') || '"'
       || ' url="https://' || d.source || '.example.com/posts/' || c.doc_id
       || '"'
       || ' hostname="' || d.source || '.example.com"'
       || ' description="synthetic article ' || c.doc_id || '"'
       || ' fingerprint="' || fp.fingerprint || '">'
       || '<main><head rend="h1">' || c.head || '</head>'
       || '<p>' || c.para1 || '</p>'
       || CASE c.m WHEN 0 THEN ''
              WHEN 1 THEN '<graphic src="m-' || c.doc_id
                          || '-0" alt="figure 0"/>'
              ELSE '<graphic src="m-' || c.doc_id || '-0" alt="figure 0"/>'
                   || '<graphic src="m-' || c.doc_id
                   || '-1" alt="figure 1"/>'
          END
       || '<p>' || c.para2 || '</p></main><comments></comments></doc>'
       AS serialized
FROM content c JOIN fp USING (doc_id) JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
"""

_ORACLE_SERIALIZE_TEI = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
       || '<titleStmt><title type="main">doc ' || c.doc_id || ' title</title>'
       || '<author>Author ' || (c.doc_id % 7) || '</author></titleStmt>'
       || '<publicationStmt><p/></publicationStmt>'
       || '<notesStmt><note type="fingerprint">' || fp.fingerprint
       || '</note></notesStmt><sourceDesc>'
       || '<bibl>doc ' || c.doc_id || ' title, ' || s.sitename || ', '
       || s.dt || '</bibl>'
       || '<bibl type="sigle">' || s.sitename || ', ' || s.dt || '</bibl>'
       || '<biblFull><titleStmt><title type="main">doc ' || c.doc_id
       || ' title</title><author>Author ' || (c.doc_id % 7)
       || '</author></titleStmt><publicationStmt>'
       || '<publisher>' || s.sitename || ' (' || s.host || ')</publisher>'
       || '<ptr type="URL" target="https://' || s.host || '/posts/'
       || c.doc_id || '"/>'
       || '<date>' || s.dt || '</date></publicationStmt></biblFull>'
       || '</sourceDesc></fileDesc><profileDesc>'
       || '<abstract><p>synthetic article ' || c.doc_id || '</p></abstract>'
       || '<creation><date type="download"></date></creation></profileDesc>'
       || '<encodingDesc><appInfo>'
       || '<application version="0.1" ident="Trafilatura">'
       || '<label>Trafilatura</label>'
       || '<ptr target="https://github.com/adbar/trafilatura"/>'
       || '</application></appInfo></encodingDesc></teiHeader>'
       || '<text><body><div type="entry">'
       || '<ab type="header">' || c.head || '</ab>'
       || '<p>' || c.para1 || '</p>'
       || CASE c.m WHEN 0 THEN ''
              WHEN 1 THEN '<graphic src="m-' || c.doc_id
                          || '-0" alt="figure 0"/>'
              ELSE '<graphic src="m-' || c.doc_id || '-0" alt="figure 0"/>'
                   || '<graphic src="m-' || c.doc_id
                   || '-1" alt="figure 1"/>'
          END
       || '<p>' || c.para2 || '</p></div></body></text></TEI>'
       AS serialized
FROM content c JOIN fp USING (doc_id)
JOIN (SELECT doc_id,
             upper(substr(source, 1, 1)) || substr(source, 2) AS sitename,
             source || '.example.com' AS host,
             '2024-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-'
             || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS dt
      FROM documents) s ON s.doc_id = c.doc_id
ORDER BY c.doc_id
"""

_ORACLE_SERIALIZE_HTML = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       '<html><head><title>doc ' || c.doc_id || ' title</title></head>'
       || '<body><h1>' || c.head || '</h1>'
       || '<p>' || c.para1 || '</p>'
       || CASE c.m WHEN 0 THEN ''
              WHEN 1 THEN '<img src="m-' || c.doc_id
                          || '-0" alt="figure 0"/>'
              ELSE '<img src="m-' || c.doc_id || '-0" alt="figure 0"/>'
                   || '<img src="m-' || c.doc_id || '-1" alt="figure 1"/>'
          END
       || '<p>' || c.para2 || '</p></body></html>' AS serialized
FROM content c
ORDER BY c.doc_id
"""

_ORACLE_URL_BLACKLIST = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'rejected' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 5 = 0 THEN 'none' ELSE 'main' END AS tier
FROM documents ORDER BY doc_id
"""

_ORACLE_ONLY_WITH_METADATA = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1 THEN 'rejected' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 2 = 1 THEN 'none' ELSE 'main' END AS tier
FROM documents ORDER BY doc_id
"""

_ORACLE_MAX_TREE_SIZE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 2 THEN 'rejected' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 3 = 2 THEN 'none' ELSE 'main' END AS tier
FROM documents ORDER BY doc_id
"""

_GRAPHIC_MD = """CASE c.m WHEN 0 THEN ''
              WHEN 1 THEN '![figure 0](m-' || c.doc_id || '-0) '
              ELSE '![figure 0](m-' || c.doc_id || '-0) ![figure 1](m-'
                   || c.doc_id || '-1) '
          END"""

_ORACLE_SERIALIZE_TXT = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       '---' || chr(10)
       || 'title: doc ' || c.doc_id || ' title' || chr(10)
       || 'author: Author ' || (c.doc_id % 7) || chr(10)
       || 'url: https://' || s.host || '/posts/' || c.doc_id || chr(10)
       || 'hostname: ' || s.host || chr(10)
       || 'description: synthetic article ' || c.doc_id || chr(10)
       || 'sitename: ' || s.sitename || chr(10)
       || 'date: ' || s.dt || chr(10)
       || '---' || chr(10)
       || c.head || chr(10) || c.para1 || chr(10)
       || {_GRAPHIC_MD}
       || c.para2 AS serialized
FROM content c
JOIN (SELECT doc_id,
             upper(substr(source, 1, 1)) || substr(source, 2) AS sitename,
             source || '.example.com' AS host,
             '2024-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-'
             || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS dt
      FROM documents) s ON s.doc_id = c.doc_id
ORDER BY c.doc_id
"""

_ORACLE_SERIALIZE_JSON = f"""
WITH {_FINGERPRINT_CTE}
SELECT c.doc_id,
       '{{"title": "doc ' || c.doc_id || ' title", '
       || '"author": "Author ' || (c.doc_id % 7) || '", '
       || '"url": "https://' || s.host || '/posts/' || c.doc_id || '", '
       || '"hostname": "' || s.host || '", '
       || '"description": "synthetic article ' || c.doc_id || '", '
       || '"sitename": "' || s.sitename || '", '
       || '"date": "' || s.dt || '", '
       || '"categories": [], "tags": [], '
       || '"fingerprint": "' || fp.fingerprint || '", '
       || '"id": null, "license": null, "comments": "", '
       || '"text": "' || c.head || '\\n' || c.para1 || '\\n'
       || {_GRAPHIC_MD}
       || c.para2 || '\\n"}}' AS serialized
FROM content c JOIN fp USING (doc_id)
JOIN (SELECT doc_id,
             upper(substr(source, 1, 1)) || substr(source, 2) AS sitename,
             source || '.example.com' AS host,
             '2024-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-'
             || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS dt
      FROM documents) s ON s.doc_id = c.doc_id
ORDER BY c.doc_id
"""

_ORACLE_DEFAULT_GATES = f"""
WITH {_PARTS},
elig AS (
    SELECT d.doc_id, d.m, d.head, d.para1, d.para2,
           len(d.head) + len(d.para1) + len(d.para2) AS l1,
           len(d.head) + 2*len(d.para1) + 2*len(d.para2) AS l2
    FROM derived d
    WHERE len(d.para1) >= 72 AND len(d.para2) >= 72
),
fam AS (
    SELECT *, (l1 >= 260) AS single_copy FROM elig
    WHERE l1 >= 260 OR (l1 <= 240 AND l2 >= 260)
)
SELECT * FROM (
    SELECT doc_id, 'ok' AS status, 'main' AS tier, 0::BIGINT AS "offset",
           'head' AS kind, head AS text FROM fam
    UNION ALL
    SELECT doc_id, 'ok', 'main', 1::BIGINT, 'p', para1 FROM fam
    UNION ALL
    SELECT f.doc_id, 'ok', 'main', 2 + g.i, 'graphic', 'figure ' || g.i
    FROM fam f, LATERAL (SELECT unnest(generate_series(0, f.m - 1)) AS i) g
    WHERE f.m > 0
    UNION ALL
    SELECT doc_id, 'ok', 'main', (m + 2)::BIGINT, 'p', para2 FROM fam
    UNION ALL
    SELECT doc_id, 'ok', 'main', (m + 3)::BIGINT, 'p', para1 FROM fam
    WHERE NOT single_copy
    UNION ALL
    SELECT doc_id, 'ok', 'main', (m + 4)::BIGINT, 'p', para2 FROM fam
    WHERE NOT single_copy
) ORDER BY doc_id, "offset"
"""

_ORACLE_KNN = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings
    WHERE vec_id % 50 = 0
),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(qv::DOUBLE[], embedding::DOUBLE[])
                 / (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))
                    * sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))), 6) AS cosine
    FROM q, embeddings e
    WHERE e.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= 5
"""


_ORACLE_IVF = """
WITH cents AS (
    SELECT vec_id AS cell, embedding AS cv FROM embeddings
    WHERE vec_id % 40 = 0
),
cos_assign AS (
    SELECT e.vec_id, c.cell,
           round(list_dot_product(e.embedding::DOUBLE[], cv::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))),
                 6) AS sim
    FROM embeddings e, cents c
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell ASC) AS r
        FROM cos_assign) WHERE r = 1
),
q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings
    WHERE vec_id % 50 = 0
),
qprobe AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[])
                            / (sqrt(list_dot_product(qv::DOUBLE[],
                                                     qv::DOUBLE[]))
                               * sqrt(list_dot_product(cv::DOUBLE[],
                                                       cv::DOUBLE[]))), 6)
                            DESC, c.cell ASC) AS r
        FROM q, cents c) WHERE r <= 4
),
pairs AS (
    SELECT q.query_id, a.vec_id AS neighbor_id,
           round(list_dot_product(qv::DOUBLE[], e.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))
                    * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))),
                 6) AS cosine
    FROM q
    JOIN qprobe p USING (query_id)
    JOIN assigned a ON a.cell = p.cell
    JOIN embeddings e ON e.vec_id = a.vec_id
    WHERE a.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= 5
"""


def _ann_sql() -> str:
    return f"""
WITH planes AS (
    SELECT t.t, j.j, d.d,
           CASE WHEN ('0x' || substr(md5(t.t || '-' || j.j || '-' || d.d), 1, 1)
                     )::INT < 8 THEN 1.0 ELSE -1.0 END AS coef
    FROM (SELECT unnest(generate_series(0, {ANN_TABLES - 1})) AS t) t,
         (SELECT unnest(generate_series(0, {ANN_BITS - 1})) AS j) j,
         (SELECT unnest(generate_series(0, 63)) AS d) d
),
comps AS (
    SELECT e.vec_id, x.ord - 1 AS d, (e.embedding::DOUBLE[])[x.ord] AS val
    FROM embeddings e,
         LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS ord) x
),
bitvals AS (
    SELECT c.vec_id, p.t, p.j,
           CASE WHEN sum(c.val * p.coef) > 0 THEN '1' ELSE '0' END AS bit
    FROM comps c JOIN planes p ON c.d = p.d
    GROUP BY 1, 2, 3
),
buckets AS (
    SELECT vec_id, t, t || ':' || string_agg(bit, '' ORDER BY j) AS bucket
    FROM bitvals GROUP BY 1, 2
),
qb AS (SELECT * FROM buckets WHERE vec_id % 50 = 0),
cand AS (
    SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id
    FROM qb JOIN buckets b ON qb.bucket = b.bucket
    WHERE b.vec_id <> qb.vec_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))), 6) AS cosine
    FROM cand c
    JOIN embeddings q ON c.query_id = q.vec_id
    JOIN embeddings e ON c.neighbor_id = e.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= 5
"""


def _dedup_embedding_sql() -> str:
    return f"""
WITH aug AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
    FROM embeddings WHERE vec_id % 40 = 0
),
planes AS (
    SELECT t.t, j.j, d.d,
           CASE WHEN ('0x' || substr(md5(t.t || '-' || j.j || '-' || d.d), 1, 1)
                     )::INT < 8 THEN 1.0 ELSE -1.0 END AS coef
    FROM (SELECT unnest(generate_series(0, {DEDUP_EMB_TABLES - 1})) AS t) t,
         (SELECT unnest(generate_series(0, {DEDUP_EMB_BITS - 1})) AS j) j,
         (SELECT unnest(generate_series(0, 63)) AS d) d
),
comps AS (
    SELECT e.vec_id, x.ord - 1 AS d, (e.embedding::DOUBLE[])[x.ord] AS val
    FROM aug e,
         LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS ord) x
),
bitvals AS (
    SELECT c.vec_id, p.t, p.j,
           CASE WHEN sum(c.val * p.coef) > 0 THEN '1' ELSE '0' END AS bit
    FROM comps c JOIN planes p ON c.d = p.d
    GROUP BY 1, 2, 3
),
buckets AS (
    SELECT vec_id, t, t || ':' || string_agg(bit, '' ORDER BY j) AS bucket
    FROM bitvals GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
    FROM buckets x JOIN buckets y
      ON x.bucket = y.bucket AND x.vec_id < y.vec_id
),
scored AS (
    SELECT c.a, c.b,
           round(list_dot_product(p.embedding::DOUBLE[], q.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(p.embedding::DOUBLE[],
                                          p.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.embedding::DOUBLE[],
                                            q.embedding::DOUBLE[]))), 6)
               AS cosine
    FROM cand c
    JOIN aug p ON c.a = p.vec_id
    JOIN aug q ON c.b = q.vec_id
)
SELECT a, b, cosine FROM scored WHERE cosine >= 0.99
"""


# ---------------------------------------------------------------------------
# Merged query families (keeps the driver's 50-entry CORRECTNESS window
# covering every operator: each family below unions queries that share a
# fixture corpus, tagging rows with the sub-query name so every branch
# still has its own exact oracle row set)
# ---------------------------------------------------------------------------

_SERIALIZE_FAMILY = (("csv", q_serialize_csv), ("xml", q_serialize_xml),
                     ("xmltei", q_serialize_tei), ("html", q_serialize_html),
                     ("txt", q_serialize_txt), ("json", q_serialize_json))


def q_serialize_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six non-markdown CLI output formats in one union
    (determineReturnString dispatch, core.dart:25-49; the job's
    --serialize sink wires the same branches): each branch runs the full
    in-stage serializer on its own extraction pass, so every format keeps
    its exact per-row oracle."""
    out = None
    for fmt, fn in _SERIALIZE_FAMILY:
        part = fn(spark, sf_dir).select(
            "doc_id", F.lit(fmt).alias("format"), "serialized")
        out = part if out is None else out.unionByName(part)
    return out


_PRUNE_FAMILY = (("no_images", q_extract_no_images),
                 ("no_tables", q_extract_no_tables),
                 ("prune_xpath", q_extract_prune_xpath))


def q_extract_prune_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option-matrix pruning family: images=False (settings.dart:138
    default), tables=False (htmlprocessing.dart:45-48), and prune_xpath
    (core.dart:232-244) must each collapse their fixture to the same
    plain head/para1/para2 span run — three independent extraction
    passes, tagged by variant."""
    out = None
    for variant, fn in _PRUNE_FAMILY:
        part = fn(spark, sf_dir).withColumn("variant", F.lit(variant))
        out = part if out is None else out.unionByName(part)
    return out


def q_extract_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-gate family: the ±1-char boundary probes at every stock gate
    (family='boundaries', core.dart:299-301 + baseline.dart:35-68) UNION
    the stock-threshold class split with the reference-faithful wild-text
    duplication below min_extracted_size (family='defaults',
    main_extractor.dart:612-629).  The defaults side aggregates the span
    texts per doc so both families share one (doc_id, family, status,
    tier, texts) shape."""
    bounds = (q_extract_gate_boundaries(spark, sf_dir)
              .withColumn("family", F.lit("boundaries")))
    flat = q_extract_default_gates(spark, sf_dir)
    # each span is encoded kind~offset~text so the hash compare still
    # pins span KINDS and OFFSETS (not just the text sequence) — the
    # pre-merge flat oracle verified those columns row-wise, and the
    # merged family must not be weaker
    defaults = (
        flat.groupBy("doc_id", "status", "tier")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("offset", "kind", "text"))),
                lambda s: F.concat_ws("~", s["kind"],
                                      s["offset"].cast("string"),
                                      s["text"])), "|").alias("texts"))
        .withColumn("family", F.lit("defaults")))
    return bounds.unionByName(defaults.select(*bounds.columns))


def q_extract_real_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-page golden gate: the reference's test/cache corpus (110
    pages captured from live sites) through the full default-option
    cascade — readability and justext fallback tiers included — as raw
    binaryFile inputs (the job's --input-dir path, cli_utils.dart:270-360).
    The oracle is the committed span manifest
    tests/fixtures/real_pages_spans.parquet, regenerated by
    scripts/regen_real_pages_golden.py and cross-checked against the
    pytest cache_golden digests.  Input is fixed real-world HTML, so the
    query is sf_dir-independent by design."""
    from trafilatura_spark.job import read_html_dir
    docs = (read_html_dir(spark, "/root/reference/test/cache")
            .withColumn("doc_id", F.element_at(F.split("doc_id", "/"), -1)))
    ex = extract_documents(docs, Options(with_metadata=True))
    return (ex.select(F.col("doc_id").alias("page"), "status", "tier",
                      F.explode_outer("spans").alias("s"))
            .select("page", "status", "tier",
                    F.coalesce(F.col("s.offset").cast("long"),
                               F.lit(-1)).alias("offset"),
                    F.coalesce(F.col("s.kind"), F.lit("")).alias("kind"),
                    F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
                    F.coalesce(F.col("s.media_ref"),
                               F.lit("")).alias("media_ref")))


_ORACLE_SERIALIZE_FORMATS = "\nUNION ALL\n".join(
    f"SELECT doc_id, '{fmt}' AS format, serialized FROM ({sql}\n)"
    for fmt, sql in (("csv", _ORACLE_SERIALIZE_CSV),
                     ("xml", _ORACLE_SERIALIZE_XML),
                     ("xmltei", _ORACLE_SERIALIZE_TEI),
                     ("html", _ORACLE_SERIALIZE_HTML),
                     ("txt", _ORACLE_SERIALIZE_TXT),
                     ("json", _ORACLE_SERIALIZE_JSON)))

_ORACLE_PRUNE_VARIANTS = "\nUNION ALL\n".join(
    f"SELECT *, '{variant}' AS variant FROM ({_ORACLE_NO_IMAGES}\n)"
    for variant in ("no_images", "no_tables", "prune_xpath"))

# defaults side of the gates family: same eligibility/fam CTEs as
# _ORACLE_DEFAULT_GATES, span texts '|'-joined in offset order
_ORACLE_GATES = f"""
WITH {_PARTS},
elig AS (
    SELECT d.doc_id, d.m, d.head, d.para1, d.para2,
           len(d.head) + len(d.para1) + len(d.para2) AS l1,
           len(d.head) + 2*len(d.para1) + 2*len(d.para2) AS l2
    FROM derived d
    WHERE len(d.para1) >= 72 AND len(d.para2) >= 72
),
fam AS (
    SELECT *, (l1 >= 260) AS single_copy FROM elig
    WHERE l1 >= 260 OR (l1 <= 240 AND l2 >= 260)
)
SELECT doc_id, 'defaults' AS family, 'ok' AS status, 'main' AS tier,
       'head~0~' || head || '|p~1~' || para1
       || CASE m WHEN 0 THEN '' WHEN 1 THEN '|graphic~2~figure 0'
               ELSE '|graphic~2~figure 0|graphic~3~figure 1' END
       || '|p~' || (2 + m) || '~' || para2
       || CASE WHEN single_copy THEN ''
               ELSE '|p~' || (3 + m) || '~' || para1
                    || '|p~' || (4 + m) || '~' || para2 END AS texts
FROM fam
UNION ALL
SELECT doc_id, 'boundaries' AS family, status, tier, texts
FROM ({_ORACLE_GATE_BOUNDARIES}
)
"""

_ORACLE_REAL_PAGES = """
SELECT page, status, tier, "offset", kind, text, media_ref
FROM read_parquet('/root/repo/tests/fixtures/real_pages_spans.parquet')
"""


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction span table on sf0.001."""
    return q_extract_spans(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_spans": q_extract_spans,
        "extract_roundtrip": q_extract_roundtrip,
        "extract_comments": q_extract_comments,
        "extract_wildtext": q_extract_wildtext,
        "extract_metadata": q_extract_metadata,
        "extract_dates": q_extract_dates,
        "extract_lang_filter": q_extract_lang_filter,
        "extraction_metrics": q_extraction_metrics,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "segment_dedup": q_segment_dedup,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "embedding_knn": q_embedding_knn,
        "embedding_ann": q_embedding_ann,
        "embedding_ivf": q_embedding_ivf,
        "render_markdown": q_render_markdown,
        "media_features": q_media_features,
        "discovery_sitemap": q_discovery_sitemap,
        "discovery_sitemap_index": q_discovery_sitemap_index,
        "discovery_feeds": q_discovery_feeds,
        "spider_robots": q_spider_robots,
        "spider_nav_priority": q_spider_nav_priority,
        "crawl_links": q_crawl_links,
        "probe_extractable": q_probe_extractable,
        "explore_sitemaps": q_explore_sitemaps,
        "feed_discovery_live": q_feed_discovery_live,
        "streaming_frontier": q_streaming_frontier,
        "doc_fingerprint": q_doc_fingerprint,
        "serialize_formats": q_serialize_formats,
        "extract_links_mode": q_extract_links_mode,
        "extract_formatting": q_extract_formatting,
        "extract_comments_off": q_extract_comments_off,
        "extract_prune_variants": q_extract_prune_variants,
        "extract_tables": q_extract_tables,
        "extract_gates": q_extract_gates,
        "extract_dedup_option": q_extract_dedup_option,
        "extract_author_blacklist": q_extract_author_blacklist,
        "extract_url_blacklist": q_extract_url_blacklist,
        "extract_only_with_metadata": q_extract_only_with_metadata,
        "extract_max_tree_size": q_extract_max_tree_size,
        "extract_precision": q_extract_precision,
        "extract_recall": q_extract_recall,
        "extract_fallback_readability": q_extract_fallback_readability,
        "extract_fallback_justext": q_extract_fallback_justext,
        "extract_pdf": q_extract_pdf,
        "dedup_embedding": q_dedup_embedding,
        "extract_real_pages": q_extract_real_pages,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_spans": _ORACLE_EXTRACT_SPANS,
        "extract_roundtrip": _ORACLE_ROUNDTRIP,
        "extract_comments": _ORACLE_COMMENTS,
        "extract_wildtext": _ORACLE_WILDTEXT,
        "extract_metadata": _ORACLE_METADATA,
        "extract_dates": (
            "SELECT doc_id, '2024-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0')"
            " || '-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS date "
            "FROM documents"),
        "extract_lang_filter": _ORACLE_LANG_FILTER,
        "extraction_metrics": _ORACLE_METRICS,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_minhash": _ORACLE_DEDUP_MINHASH,
        "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        "dedup_simhash": _ORACLE_DEDUP_SIMHASH,
        "segment_dedup": _ORACLE_SEGMENT_DEDUP,
        "text_lang_id": _lang_sql(),
        "text_quality": _ORACLE_QUALITY,
        "embedding_knn": _ORACLE_KNN,
        "embedding_ann": _ann_sql(),
        "embedding_ivf": _ORACLE_IVF,
        "render_markdown": _ORACLE_RENDER,
        "media_features": _ORACLE_MEDIA,
        "discovery_sitemap": _ORACLE_SITEMAP,
        "discovery_sitemap_index": _ORACLE_SITEMAP_INDEX,
        "discovery_feeds": _ORACLE_FEEDS,
        "spider_robots": _ORACLE_ROBOTS,
        "spider_nav_priority": _ORACLE_NAV_PRIORITY,
        "crawl_links": _ORACLE_CRAWL_LINKS,
        "probe_extractable": _ORACLE_PROBE_EXTRACTABLE,
        "explore_sitemaps": _ORACLE_EXPLORE_SITEMAPS,
        "feed_discovery_live": _ORACLE_FEED_LIVE,
        "streaming_frontier": _ORACLE_STREAMING_FRONTIER,
        "doc_fingerprint": _ORACLE_DOC_FINGERPRINT,
        "serialize_formats": _ORACLE_SERIALIZE_FORMATS,
        "extract_links_mode": _ORACLE_LINKS_MODE,
        "extract_formatting": _ORACLE_FORMATTING,
        # comments=False over a with-comments corpus must equal the plain
        # body span table
        "extract_comments_off": _ORACLE_EXTRACT_SPANS,
        # images=False / tables=False / prune_xpath each collapse their
        # fixture to the same plain head/para1/para2 table
        "extract_prune_variants": _ORACLE_PRUNE_VARIANTS,
        "extract_tables": _ORACLE_TABLES,
        "extract_gates": _ORACLE_GATES,
        "extract_dedup_option": _ORACLE_DEDUP_OPTION,
        "extract_author_blacklist": """
SELECT doc_id,
       CASE WHEN doc_id % 7 IN (0, 3) THEN NULL
            ELSE 'Author ' || (doc_id % 7) END AS author
FROM documents ORDER BY doc_id
""",
        "extract_url_blacklist": _ORACLE_URL_BLACKLIST,
        "extract_only_with_metadata": _ORACLE_ONLY_WITH_METADATA,
        "extract_max_tree_size": _ORACLE_MAX_TREE_SIZE,
        "extract_precision": _ORACLE_EXTRACT_SPANS,
        "extract_recall": _ORACLE_EXTRACT_SPANS,
        "extract_fallback_readability": _ORACLE_FALLBACK_READABILITY,
        "extract_fallback_justext": _ORACLE_FALLBACK_JUSTEXT,
        "extract_pdf": _ORACLE_EXTRACT_PDF,
        "dedup_embedding": _dedup_embedding_sql(),
        "extract_real_pages": _ORACLE_REAL_PAGES,
    }
