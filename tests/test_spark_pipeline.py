"""Spark-level pipeline tests: extraction operator, metrics, job
checkpoint/resume (SURVEY.md §3.4, §4.3)."""

import shutil

import pytest
from pyspark.sql import functions as F

from trafilatura_spark.job import run_extraction
from trafilatura_spark.operators.pipeline import (
    extract_documents,
    extraction_metrics,
)
from trafilatura_spark.settings import Options
from trafilatura_spark.sources.corpus import synthesize_documents_df

RELAXED = Options(fast=True, comments=False, with_metadata=True,
                  min_extracted_size=5, min_output_size=1)


@pytest.fixture(scope="module")
def extracted(spark, sf_dir):
    docs = synthesize_documents_df(spark, sf_dir)
    df = extract_documents(docs, RELAXED, num_partitions=8)
    df.cache()
    df.count()
    yield df
    df.unpersist()


def test_all_docs_ok(extracted, doc_rows):
    assert extracted.count() == len(doc_rows)
    assert extracted.filter(F.col("status") != "ok").count() == 0


def test_extract_batches_collects_each_document(monkeypatch):
    """The extraction generator turns automatic GC off while it runs and
    frees each document's trees at that document's end.  Once a batch is
    yielded no Node of it is alive, counted without collecting first: a
    tree still referenced during its document's young-generation pass
    would be promoted and outlive the task.  GC is back on after
    exhaustion and after an early close(), and a GC that was off before
    the task stays off."""
    import gc

    import pandas as pd

    from trafilatura_spark import core
    from trafilatura_spark.dom import Node
    from trafilatura_spark.operators.pipeline import make_extract_batches
    from trafilatura_spark.sources.corpus import single_html_span

    convert_tags = core.convert_tags

    def convert_or_fail(tree, *args, **kwargs):
        # fails with the parsed, cleaned and working trees all in flight
        if "BOOM" in tree.text_content():
            raise ValueError("forced failure")
        return convert_tags(tree, *args, **kwargs)

    monkeypatch.setattr(core, "convert_tags", convert_or_fail)

    def page(words):
        return ("<html><body><article><p>" + words * 20
                + "</p></article></body></html>")

    pdf = pd.DataFrame({
        "doc_id": ["ok", "rejected", "error"],
        "spans": [single_html_span(page("Some words here. ")),
                  single_html_span("not html at all"),
                  single_html_span(page("BOOM goes this page. "))],
    })
    statuses = ["ok", "rejected", "error"]

    def live_nodes():
        return sum(type(o) is Node for o in gc.get_objects())

    extract = make_extract_batches(RELAXED)
    assert gc.isenabled()
    gc.collect()
    before = live_nodes()
    gen = extract(iter([pdf, pdf]))
    assert list(next(gen)["status"]) == statuses
    assert not gc.isenabled()
    assert live_nodes() == before
    gen.close()
    assert gc.isenabled()
    assert [list(b["status"]) for b in extract(iter([pdf, pdf]))] == [statuses] * 2
    assert gc.isenabled()
    gc.disable()
    try:
        assert len(list(extract(iter([pdf])))) == 1
        assert not gc.isenabled()
    finally:
        gc.enable()


def test_roundtrip_identity_distributed(spark, extracted, sf_dir):
    orig = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    rt = extracted.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] != "graphic"),
                lambda s: s["text"]),
            " ").alias("rtext"))
    bad = rt.join(orig, "doc_id").filter(F.col("rtext") != F.col("text"))
    assert bad.count() == 0


def test_span_offsets_dense_and_ordered(extracted):
    bad = extracted.select(
        F.size("spans").alias("n"),
        F.expr("transform(spans, s -> s.offset)").alias("offs"),
    ).filter(F.expr("offs != sequence(0, n - 1)"))
    assert bad.count() == 0


def test_metadata_struct(extracted):
    row = extracted.filter(F.col("doc_id") == "2").select("meta").first()
    assert row["meta"]["title"] == "doc 2 title"
    assert row["meta"]["author"] == "Author 2"
    # core.dart:547-560 — fingerprint only rides non-txt output formats
    assert row["meta"]["fingerprint"] is None


def test_fingerprint_gate(spark, sf_dir):
    """Options.fingerprint=True (or a non-txt serialize) computes the
    simhash fingerprint; the default span/txt path skips it
    (core.dart:22,547-560 _txtFormats gate)."""
    from dataclasses import replace

    docs = synthesize_documents_df(spark, sf_dir).limit(6)
    with_fp = extract_documents(docs, replace(RELAXED, fingerprint=True))
    assert all(r["meta"]["fingerprint"]
               for r in with_fp.select("meta").collect())
    # a non-txt serialization force-enables it even when the option is off
    via_serialize = extract_documents(docs, RELAXED, serialize="json")
    row = via_serialize.select("meta", "serialized").first()
    assert row["meta"]["fingerprint"]
    assert '"fingerprint": "' in row["serialized"]
    # txt serialization must NOT carry a fingerprint line
    via_txt = extract_documents(docs, RELAXED, serialize="txt")
    assert "fingerprint:" not in via_txt.select("serialized").first()[0]


def test_metrics(extracted):
    m = extraction_metrics(extracted)
    total = m.agg(F.sum("docs")).collect()[0][0]
    assert total == extracted.count()
    cols = set(m.columns)
    assert {"fallback_rate", "empty_rate", "error_docs"} <= cols


def test_extraction_plan_is_narrow(spark, sf_dir):
    """The extraction stage must not shuffle: scan → project → mapInPandas."""
    docs = synthesize_documents_df(spark, sf_dir)
    plan = extract_documents(docs, RELAXED)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_job_resume(spark, sf_dir, tmp_path):
    out, prog = str(tmp_path / "out"), str(tmp_path / "prog")
    docs = synthesize_documents_df(spark, sf_dir)
    s1 = run_extraction(spark, docs, out, prog, "r1", RELAXED,
                        n_buckets=8, wave_size=3)
    assert s1["processed_buckets"] == 8
    assert s1["waves"] == 3
    n = spark.read.parquet(out).count()
    assert n == s1["docs"]
    # resume: nothing left to do
    s2 = run_extraction(spark, docs, out, prog, "r2", RELAXED,
                        n_buckets=8, wave_size=3)
    assert s2["processed_buckets"] == 0
    assert spark.read.parquet(out).count() == n
    # partial resume: wipe progress rows for 2 buckets
    kept_rows = spark.read.parquet(prog).filter(
        ~F.col("bucket").isin([0, 1])).collect()
    schema = spark.read.parquet(prog).schema
    shutil.rmtree(prog)
    spark.createDataFrame(kept_rows, schema).write.parquet(prog)
    s3 = run_extraction(spark, docs, out, prog, "r3", RELAXED,
                        n_buckets=8, wave_size=3)
    assert s3["processed_buckets"] == 2
    assert s3["resumed_buckets"] == 6


def test_errors_do_not_fail_tasks(spark):
    """A pathological document yields status='error'/'rejected', not a task
    failure (core.dart:333-335 parity)."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "spans": [
            [("html", "<html><body>" + "<div>" * 200 + "x" + "</div>" * 200
              + "</body></html>", "", 0)],
            [("html", "not html at all", "", 0)],
        ],
    })
    from trafilatura_spark.sources.corpus import DOCUMENTS_SCHEMA
    df = spark.createDataFrame(pdf, DOCUMENTS_SCHEMA)
    res = extract_documents(df, Options()).collect()
    assert {r["doc_id"] for r in res} == {"a", "b"}
    assert all(r["status"] in ("ok", "empty", "rejected", "error") for r in res)


def test_bfs_frontier(spark):
    from trafilatura_spark.sources.spider import bfs_frontier, per_domain_quota
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
         ("e", "a"), ("x", "y")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["url"])
    got = {(r["url"], r["hop"]) for r in
           bfs_frontier(edges, seeds, max_hops=5).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 1), ("d", 2), ("e", 3)}
    urls = spark.createDataFrame(
        [(f"https://h{i%2}.com/p{i}",) for i in range(20)], ["url"])
    capped = per_domain_quota(urls, quota=3)
    assert capped.count() == 6


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    from pyspark.sql import functions as F
    from trafilatura_spark.functions.similarity import cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    plan = cosine_topk(emb, q)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan


def test_per_doc_dedup_option():
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    seg = ("A repeated promotional segment that is certainly longer than "
           "the one hundred character duplicate check minimum threshold "
           "used by the engine for this test.")
    html = ("<html><body><article>" + f"<p>{seg}</p>" * 5
            + "</article></body></html>")
    res = bare_extraction(html, Options(with_metadata=False, dedup=False,
                                        min_output_size=1))
    assert sum(1 for s in res.spans if s["text"] == seg) == 5
    res2 = bare_extraction(html, Options(with_metadata=False, dedup=True,
                                         min_output_size=1))
    # reference semantics (deduplication.dart:335-349): count tested
    # BEFORE increment -> max_repetitions+1 copies kept
    assert sum(1 for s in res2.spans if s["text"] == seg) == 3
    assert [s["offset"] for s in res2.spans] == list(range(len(res2.spans)))


def test_progress_carries_lineage(spark, sf_dir, tmp_path):
    out, prog = str(tmp_path / "lo"), str(tmp_path / "lp")
    docs = synthesize_documents_df(spark, sf_dir)
    run_extraction(spark, docs, out, prog, "rl", RELAXED,
                   n_buckets=4, wave_size=4, lineage="testdata:sf0.001")
    rows = spark.read.parquet(prog).collect()
    assert all(r["lineage"] == "testdata:sf0.001" for r in rows)
    assert all(r["run_id"] == "rl" for r in rows)
    assert all(r["committed_at"] is not None for r in rows)


def test_torn_wave_scrubbed_on_resume(spark, sf_dir, tmp_path):
    """Crash between output append and progress append must not duplicate
    rows: the resume scrubs output partitions lacking a progress row."""
    out, prog = str(tmp_path / "to"), str(tmp_path / "tp")
    docs = synthesize_documents_df(spark, sf_dir)
    run_extraction(spark, docs, out, prog, "t1", RELAXED,
                   n_buckets=4, wave_size=4)
    full = spark.read.parquet(out).count()
    # simulate the torn wave: delete bucket 2's progress row but keep its
    # output partition (= crash after output write, before progress write)
    kept = spark.read.parquet(prog).filter(F.col("bucket") != 2).collect()
    schema = spark.read.parquet(prog).schema
    shutil.rmtree(prog)
    spark.createDataFrame(kept, schema).write.parquet(prog)
    s = run_extraction(spark, docs, out, prog, "t2", RELAXED,
                       n_buckets=4, wave_size=4)
    assert s["scrubbed_torn_buckets"] == 1
    assert s["processed_buckets"] == 1
    res = spark.read.parquet(out)
    assert res.count() == full
    assert res.select("doc_id").distinct().count() == full


def test_first_wave_torn_crash_scrubbed(spark, sf_dir, tmp_path):
    """A crash during the FIRST wave (output written, progress table never
    created) must also scrub: previously the scrub was skipped whenever the
    progress table was empty, so a restart duplicated the orphan rows."""
    out, prog = str(tmp_path / "fo"), str(tmp_path / "fp")
    docs = synthesize_documents_df(spark, sf_dir)
    run_extraction(spark, docs, out, prog, "f1", RELAXED,
                   n_buckets=4, wave_size=2)
    full = spark.read.parquet(out).count()
    # simulate: crash after the first wave's output append, before any
    # progress append — orphan partitions, NO progress table at all
    shutil.rmtree(prog)
    s = run_extraction(spark, docs, out, prog, "f2", RELAXED,
                       n_buckets=4, wave_size=2)
    assert s["scrubbed_torn_buckets"] == 4
    res = spark.read.parquet(out)
    assert res.count() == full
    assert res.select("doc_id").distinct().count() == full


def test_job_serialize_flag(spark, sf_dir, tmp_path):
    """--serialize adds a JVM-side serialized column to the output."""
    out, prog = str(tmp_path / "so"), str(tmp_path / "sp")
    docs = synthesize_documents_df(spark, sf_dir)
    run_extraction(spark, docs, out, prog, "s1", RELAXED,
                   n_buckets=4, wave_size=4, serialize="csv")
    res = spark.read.parquet(out)
    assert "serialized" in res.columns
    row = res.filter(F.col("status") == "ok").first()
    # render_csv's 11-column layout (url, id, fingerprint, hostname,
    # title, image, date, text, comments, license, pagetype) = 10 tabs
    assert row["serialized"].count("\t") == 10


def test_job_numeric_doc_id_bucket_consistency(spark, tmp_path):
    """Numeric doc_id inputs must bucket identically on the input side
    (wave filter) and the output side (bucket recomputed from the
    stringified doc_id the extractor emits) — a mismatch writes rows
    under not-yet-committed buckets that a resume would scrub."""
    from pyspark.sql import functions as F

    from trafilatura_spark.job import run_extraction
    from trafilatura_spark.settings import Options
    from trafilatura_spark.sources.corpus import synthesize_documents_df

    docs = synthesize_documents_df(spark, "/root/testdata/sf0.001") \
        .withColumn("doc_id", F.col("doc_id").cast("long")) \
        .filter("doc_id < 60")
    out = str(tmp_path / "out")
    prog = str(tmp_path / "prog")
    summary = run_extraction(
        spark, docs, out, prog, run_id="numid",
        options=Options(fast=True, with_metadata=False,
                        min_extracted_size=5, min_output_size=1),
        n_buckets=4, wave_size=2)
    assert summary["docs"] == 60
    progress = spark.read.parquet(prog)
    # every doc accounted for in the per-bucket metrics (the broken
    # hashing counted 0 docs per bucket)
    assert progress.agg({"docs": "sum"}).collect()[0][0] == 60
    res = spark.read.parquet(out)
    assert res.count() == 60


def test_job_serialize_tree_formats(spark, sf_dir, tmp_path):
    """--serialize xml/xmltei/html/txt/markdown render from the extraction
    tree inside the Arrow stage (determineReturnString dispatch,
    core.dart:25-105); exactness of the xml string is oracle-gated
    (serialize_xml) — this checks the job sink wiring per format."""
    docs = synthesize_documents_df(spark, sf_dir).filter(
        F.col("doc_id").cast("long") < 24)
    shapes = {
        "xml": lambda s: s.startswith("<doc ") and "<main>" in s,
        "xmltei": lambda s: s.startswith("<TEI ") and "<teiHeader>" in s,
        "html": lambda s: s.startswith("<html><head>"),
        "txt": lambda s: s.startswith("---\ntitle: doc "),
        "markdown": lambda s: "\n# " in s or s.split("---\n")[-1].startswith("# "),
    }
    for fmt, ok in shapes.items():
        out, prog = str(tmp_path / f"o-{fmt}"), str(tmp_path / f"p-{fmt}")
        run_extraction(spark, docs, out, prog, f"fmt-{fmt}", RELAXED,
                       n_buckets=2, wave_size=2, serialize=fmt)
        res = spark.read.parquet(out)
        assert "serialized" in res.columns, fmt
        row = res.filter(F.col("status") == "ok").first()
        assert ok(row["serialized"]), (fmt, row["serialized"][:200])


def test_job_serialize_tree_format_rejects_custom_batches(spark, sf_dir,
                                                          tmp_path):
    """Tree formats need the extraction tree — unavailable from custom
    batch producers (e.g. the PDF extractor), so the job refuses."""
    import pytest as _pytest

    docs = synthesize_documents_df(spark, sf_dir)
    with _pytest.raises(ValueError, match="serialize"):
        run_extraction(spark, docs, str(tmp_path / "o"), str(tmp_path / "p"),
                       "bad", RELAXED, serialize="xml",
                       batches_fn=lambda it: it)


def test_job_cli_serialize_formats(spark, sf_dir, tmp_path):
    """CLI e2e: the reference's 7-format -f dispatch through job.main
    (cli analog of core.dart:25-105) — every format produces a serialized
    column over a spans-parquet input."""
    import json as _json

    from trafilatura_spark.job import main as job_main

    inp = str(tmp_path / "docs")
    synthesize_documents_df(spark, sf_dir).filter(
        F.col("doc_id").cast("long") < 16).write.parquet(inp)
    checks = {
        "json": lambda s: _json.loads(s)["title"].startswith("doc "),
        "csv": lambda s: s.count("\t") == 10,
        "txt": lambda s: s.startswith("---\ntitle: doc "),
        "markdown": lambda s: "# " in s,
        "xml": lambda s: s.startswith("<doc "),
        "xmltei": lambda s: s.startswith("<TEI "),
        "html": lambda s: s.startswith("<html>"),
    }
    for fmt, ok in checks.items():
        out, prog = str(tmp_path / f"co-{fmt}"), str(tmp_path / f"cp-{fmt}")
        rc = job_main(["--input", inp, "--output", out, "--progress", prog,
                       "--run-id", f"cli-{fmt}", "--buckets", "2",
                       "--wave-size", "2", "--fast", "--no-comments",
                       "--serialize", fmt])
        assert rc == 0
        row = (spark.read.parquet(out)
               .filter(F.col("status") == "ok").first())
        assert ok(row["serialized"]), (fmt, row["serialized"][:200])


def test_job_table_input(spark, sf_dir, tmp_path):
    """CLI e2e: --input-format table reads the documents table through
    the session catalog (spark.read.table) — the code path an Iceberg
    catalog serves on a real cluster — and must extract identically to
    the parquet-path input."""
    from trafilatura_spark.job import main as job_main

    docs = synthesize_documents_df(spark, sf_dir).filter(
        F.col("doc_id").cast("long") < 16)
    spark.sql("DROP TABLE IF EXISTS docs_tbl")
    docs.write.saveAsTable("docs_tbl")
    try:
        out, prog = str(tmp_path / "to"), str(tmp_path / "tp")
        rc = job_main(["--input", "docs_tbl", "--input-format", "table",
                       "--output", out, "--progress", prog,
                       "--run-id", "tbl-1", "--buckets", "2",
                       "--wave-size", "2", "--fast", "--no-comments"])
        assert rc == 0
        res = spark.read.parquet(out)
        assert res.count() == 16
        assert res.filter(F.col("status") == "ok").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_tbl")


def test_job_large_wave_metrics_and_resume(spark, sf_dir, tmp_path):
    """One 64-bucket wave: 320 per-bucket observe() counts ride a single
    write; per-bucket progress rows must match a direct groupBy of the
    output, and a resume must find nothing left."""
    out, prog = str(tmp_path / "lo"), str(tmp_path / "lp")
    docs = synthesize_documents_df(spark, sf_dir)
    n_docs = docs.count()
    s1 = run_extraction(spark, docs, out, prog, "big1", RELAXED,
                        n_buckets=64, wave_size=64)
    assert s1["waves"] == 1
    assert s1["processed_buckets"] == 64
    assert s1["docs"] == n_docs
    progress = spark.read.parquet(prog)
    assert progress.count() == 64
    assert progress.agg({"docs": "sum"}).collect()[0][0] == n_docs
    # per-bucket split must match a direct groupBy of the output
    direct = {r["bucket"]: r["n"] for r in
              spark.read.parquet(out).groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    via_progress = {r["bucket"]: r["docs"] for r in progress.collect()}
    for b in range(64):
        assert via_progress.get(b, 0) == direct.get(b, 0), b
    # resume: nothing left
    s2 = run_extraction(spark, docs, out, prog, "big2", RELAXED,
                        n_buckets=64, wave_size=64)
    assert s2["processed_buckets"] == 0
    assert spark.read.parquet(out).count() == n_docs


def _with_failures():
    """The default HTML extractor (stock Options: baseline-tier 'empty'
    rows on short pages), with a fixed share of rows turned into the
    'error' and 'timeout' rows core.bare_extraction gives on failure.
    Nested so the workers unpickle it by value, not by test-module name."""
    from trafilatura_spark.operators.pipeline import make_extract_batches
    extract = make_extract_batches(Options())

    def batches(it):
        import zlib
        for pdf in extract(it):
            mark = pdf["doc_id"].map(lambda d: zlib.crc32(d.encode()) % 10)
            pdf.loc[mark == 0, ["status", "tier"]] = ("error", "none")
            pdf.loc[mark == 1, ["status", "tier"]] = ("timeout", "none")
            yield pdf
    return batches


@pytest.mark.parametrize("n_buckets,wave_size", [(8, 4), (40, 40)],
                         ids=["small-wave", "large-wave"])
def test_job_progress_columns_both_metric_paths(spark, sf_dir, tmp_path,
                                                n_buckets, wave_size):
    """Every progress count equals a direct groupBy of the written output,
    for several small waves and for one large wave (40 buckets, 200
    per-bucket observe() counts on one write)."""
    out, prog = str(tmp_path / "o"), str(tmp_path / "p")
    docs = synthesize_documents_df(spark, sf_dir)
    s = run_extraction(spark, docs, out, prog, "cols", n_buckets=n_buckets,
                       wave_size=wave_size, batches_fn=_with_failures())
    assert s["processed_buckets"] == n_buckets
    assert s["write_s"] > 0 and s["progress_s"] > 0
    fb = F.col("tier").isin("baseline", "readability", "justext")
    cols = ["docs", "fallback_docs", "empty_docs", "error_docs",
            "timeout_docs"]
    direct = {r["bucket"]: tuple(r[c] for c in cols) for r in
              spark.read.parquet(out).groupBy("bucket").agg(
                  F.count(F.lit(1)).alias("docs"),
                  F.sum(fb.cast("long")).alias("fallback_docs"),
                  *[F.sum((F.col("status") == st).cast("long")).alias(c)
                    for st, c in (("empty", "empty_docs"),
                                  ("error", "error_docs"),
                                  ("timeout", "timeout_docs"))])
              .collect()}
    progress = {r["bucket"]: r for r in spark.read.parquet(prog).collect()}
    assert sorted(progress) == list(range(n_buckets))
    for b, r in progress.items():
        want = direct.get(b, (0,) * len(cols))
        assert tuple(r[c] for c in cols) == want, b
        n = r["docs"]
        assert r["fallback_rate"] == (r["fallback_docs"] / n if n else 0.0)
        assert r["empty_rate"] == (r["empty_docs"] / n if n else 0.0)
    # the input reaches every counted category
    for i, c in enumerate(cols):
        assert sum(v[i] for v in direct.values()) > 0, c


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_progress_append_is_jvm_local(spark, tmp_path, arrow):
    """Progress rows go to the JVM as a LocalRelation (no Python-worker
    job to unpickle them), whatever the Arrow conf, and the written table
    has _PROGRESS_SCHEMA's columns and types plus committed_at."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    from trafilatura_spark.job import _PROGRESS_SCHEMA, _progress_frame
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        rows = [("r", b, 4, 1, 1, 0, 0, 0.25, 0.25, "lin", 3)
                for b in range(3)]
        df = _progress_frame(spark, rows)
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        df.write.parquet(str(tmp_path / "p"))
    finally:
        spark.conf.set(key, prior)
    written = spark.read.parquet(str(tmp_path / "p"))
    want = StructType(list(_PROGRESS_SCHEMA.fields)
                      + [StructField("committed_at", TimestampType())])
    assert written.schema == want
    assert sorted(tuple(r)[:11] for r in written.collect()) == rows


def test_scrub_matches_only_pending_buckets_under_output(spark, tmp_path):
    """The torn-wave scrub's single glob deletes exactly the pending
    bucket partitions of output_path: not bucket=10 for pending 1, not a
    sibling directory that glob metacharacters in the path would match."""
    from trafilatura_spark.job import _scrub_uncommitted
    for sub in ("out[1]/bucket=1", "out[1]/bucket=10", "out[1]/bucket=3",
                "out1/bucket=1"):
        (tmp_path / sub).mkdir(parents=True)
    assert _scrub_uncommitted(spark, str(tmp_path / "fresh"), [0, 1]) == 0
    assert _scrub_uncommitted(spark, str(tmp_path / "out[1]"), [1, 2]) == 1
    assert sorted(p.name for p in (tmp_path / "out[1]").iterdir()) == [
        "bucket=10", "bucket=3"]
    assert (tmp_path / "out1" / "bucket=1").is_dir()


def test_job_config_file(spark, sf_dir, tmp_path):
    """--config-file (configMapping, settings.dart:52-62): size gates from
    an upstream-style settings.cfg relax the defaults; an explicit flag
    still overrides the file."""
    from trafilatura_spark.job import main as job_main
    from trafilatura_spark.settings import load_config_file

    cfg = tmp_path / "settings.cfg"
    cfg.write_text("[DEFAULT]\n"
                   "# relaxed gates for the synthetic corpus\n"
                   "MIN_EXTRACTED_SIZE = 5\n"
                   "MIN_OUTPUT_SIZE = 1  ; inline comment\n"
                   "UNKNOWN_KEY = 9\n")
    assert load_config_file(str(cfg)) == {"min_extracted_size": 5,
                                          "min_output_size": 1}
    # a RECOGNIZED key with an unparseable value must raise, not silently
    # fall back to the default gate
    bad = tmp_path / "bad.cfg"
    bad.write_text("MAX_REPETITIONS = not-a-number\n")
    with pytest.raises(ValueError, match="MAX_REPETITIONS"):
        load_config_file(str(bad))
    inp = str(tmp_path / "cfg_docs")
    synthesize_documents_df(spark, sf_dir).filter(
        F.col("doc_id").cast("long") < 16).write.parquet(inp)
    out, prog = str(tmp_path / "cfg_out"), str(tmp_path / "cfg_prog")
    rc = job_main(["--input", inp, "--output", out, "--progress", prog,
                   "--run-id", "cfg-1", "--buckets", "2", "--wave-size", "2",
                   "--fast", "--no-comments", "--config-file", str(cfg)])
    assert rc == 0
    res = spark.read.parquet(out)
    # DEFAULT gates reject most short synthetic docs; the relaxed cfg
    # must let them through
    assert res.filter(F.col("status") == "ok").count() == 16
    # explicit flag beats the file: an impossible OUTPUT gate (the final
    # acceptance check no recovery path can bypass) empties everything
    out2, prog2 = str(tmp_path / "cfg_out2"), str(tmp_path / "cfg_prog2")
    rc = job_main(["--input", inp, "--output", out2, "--progress", prog2,
                   "--run-id", "cfg-2", "--buckets", "2", "--wave-size", "2",
                   "--fast", "--no-comments", "--config-file", str(cfg),
                   "--min-output-size", "100000"])
    assert rc == 0
    res2 = spark.read.parquet(out2)
    assert res2.filter(F.col("status") == "ok").count() == 0


def test_ivf_trained_centroid_seam(spark):
    """ivf_topk accepts a supplied centroids DataFrame (the production
    seam for offline-trained k-means cells): fed the sampler's own
    selection it returns identical rows, and the physical plan keeps
    the same shape — same broadcast-join and shuffle count, so swapping
    in trained centroids never changes the execution strategy."""
    import contextlib
    import io

    from trafilatura_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    sampled = ivf_topk(emb, queries, k=3, centroid_stride=40, n_probe=4)
    cents = emb.filter(F.col("vec_id") % 40 == 0)
    supplied = ivf_topk(emb, queries, k=3, n_probe=4, centroids=cents)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(sampled) == rows(supplied)

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    pa, pb = plan(sampled), plan(supplied)
    for op in ("BroadcastHashJoin", "Exchange", "Window"):
        assert pa.count(op) == pb.count(op), op


def test_job_lang_filter(spark, tmp_path):
    """--lang-filter (extension past the reference's always-accept
    languageFilter stub, utils.dart:452-472): with --target-lang en,
    'ok' docs whose EXTRACTED text classifies to another language are
    dropped by a relational filter stage; without the flag behavior is
    unchanged (metadata-only gating — these docs carry no lang
    metadata, so both pass)."""
    import pandas as pd

    from trafilatura_spark.job import main as job_main
    from trafilatura_spark.sources.corpus import (DOCUMENTS_SCHEMA,
                                                  single_html_span)

    en_p = ("the quick brown fox jumps over the lazy dog and all of "
            "them have words that are of this and that for the most "
            "part with more of the same in every line ") * 3
    fr_p = ("le renard brun saute par dessus le chien paresseux et "
            "tous les mots sont de la langue avec une pour que dans "
            "les lignes et encore des mots pas en anglais ") * 3
    pdf = pd.DataFrame({
        "doc_id": ["en1", "fr1"],
        "spans": [
            single_html_span(f"<html><body><article><p>{en_p}</p>"
                             "</article></body></html>"),
            single_html_span(f"<html><body><article><p>{fr_p}</p>"
                             "</article></body></html>"),
        ],
    })
    inp = str(tmp_path / "lf_in")
    spark.createDataFrame(pdf, DOCUMENTS_SCHEMA).write.parquet(inp)

    def run(tag, *extra):
        out = str(tmp_path / f"lf_out_{tag}")
        rc = job_main(["--input", inp, "--output", out,
                       "--progress", str(tmp_path / f"lf_prog_{tag}"),
                       "--run-id", tag, "--buckets", "2",
                       "--wave-size", "2", "--fast",
                       "--target-lang", "en", *extra])
        assert rc == 0
        return {r["doc_id"] for r in
                spark.read.parquet(out)
                .filter(F.col("status") == "ok").collect()}

    assert run("default") == {"en1", "fr1"}
    assert run("filtered", "--lang-filter") == {"en1"}

    # validation fires BEFORE any Spark work: a --target-lang outside the
    # classifier's stopword vocabulary would silently drop 100% of docs,
    # so the CLI rejects it at parse time (argparse exits with code 2)
    import pytest as _pytest
    with _pytest.raises(SystemExit) as exc:
        job_main(["--input", inp, "--output", str(tmp_path / "never"),
                  "--progress", str(tmp_path / "never_p"),
                  "--run-id", "bad", "--lang-filter",
                  "--target-lang", "xx"])
    assert exc.value.code == 2
    with _pytest.raises(SystemExit) as exc2:
        job_main(["--input", inp, "--output", str(tmp_path / "never2"),
                  "--progress", str(tmp_path / "never2_p"),
                  "--run-id", "bad2", "--lang-filter"])
    assert exc2.value.code == 2


def test_train_ivf_centroids(spark):
    """Pure-DataFrame Lloyd k-means (the ivf_topk(centroids=...)
    producer): deterministic across runs on the same layout, returns
    <= n_cells mean vectors of the input dimension, and the trained
    cells recover most brute-force neighbors at n_probe=3 of 8 cells
    (recall floor pinned)."""
    from trafilatura_spark.functions.similarity import (cosine_topk,
                                                        ivf_topk,
                                                        train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .select("vec_id", "embedding")
    c1 = train_ivf_centroids(emb, n_cells=8, n_iter=3)
    c2 = train_ivf_centroids(emb, n_cells=8, n_iter=3)
    r1 = sorted((r["vec_id"], tuple(r["embedding"])) for r in c1.collect())
    r2 = sorted((r["vec_id"], tuple(r["embedding"])) for r in c2.collect())
    assert r1 == r2
    assert 0 < len(r1) <= 8
    assert all(len(vec) == 64 for _, vec in r1)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    ivf = ivf_topk(emb, queries, k=5, n_probe=3, centroids=c1)
    brute = cosine_topk(emb, queries, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.5, recall


def test_lang_id_zh_and_ties_match_duckdb_oracle(spark):
    """The zh (Han-script) scoring path and the alphabetical tie-break
    never fire on the driver testdata (its text is latin token soup), so
    pin them directly: Spark lang_id vs the generated DuckDB oracle SQL
    on hand-made CJK / mixed / tie rows, plus hand-computed expectations."""
    import duckdb

    import __spark_entry__ as entry
    from trafilatura_spark.functions.textstats import lang_id

    rows = [
        (1, "中文网页的正文内容很长而且都是汉字"),          # pure Han -> zh
        (2, "the of and to in is that it for a plain page"),  # en
        (3, "der die das und nicht ist ich ein mit von"),     # de
        (4, "mixed 中文 content with the of and to in is"),   # en stopwords beat 2 han
        (5, "日本語のテキストです漢字が多い"),                 # kanji -> zh (documented)
        (6, "xyzzy plugh qwerty"),                            # und
        (7, "la de que para el y los una por con le les"),   # es/fr overlap tie -> es
        (8, "中 the a of and to in is that it for"),          # 10 en vs 1 han -> en
        # English article quoting a full Chinese sentence (13 Han chars,
        # > the 10-word stopword cap): before the Han-fraction guard the
        # unbounded Han count beat the en overlap; Han is < 1/4 of the
        # codepoints here so zh scores 0 and en wins
        (9, "the of and to in is that it for a long article quoting "
            "中文网页的正文内容很长而且汉字 inline once"),
        # majority-Han doc with a couple of latin tokens still reads zh
        # (Han ≥ 1/4 of codepoints; capped score 10 beats the 2 en hits)
        (10, "中文网页的正文内容很长而且都是汉字中文网页的正文 the of"),
    ]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["predicted_lang"]
           for r in lang_id(sdf).select("doc_id", "predicted_lang").collect()}
    assert got[1] == "zh" and got[5] == "zh"
    assert got[2] == "en" and got[3] == "de" and got[4] == "en"
    assert got[6] == "und" and got[8] == "en"
    assert got[7] == "es"  # alphabetical-first on the es/fr score tie
    assert got[9] == "en" and got[10] == "zh"

    con = duckdb.connect()
    con.execute("create table documents(doc_id int, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    oracle = {r[0]: r[1] for r in con.execute(
        entry.oracle_sql()["text_lang_id"]).fetchall()}
    assert got == oracle


def test_multi_mb_pages_under_small_arrow_byte_cap(spark, sf_dir):
    """Arrow batches close at maxRecordsPerBatch OR maxBytesPerBatch,
    whichever comes first: ~1.5 MB pages mixed into ordinary ones give
    the same rows whether a partition arrives as one batch (64 MB
    default cap) or is cut into several (2 MB cap)."""
    import pandas as pd

    from trafilatura_spark.sources.corpus import synthesize_spans_from

    # filter BEFORE synthesis: a 1.5 MB page per input row adds up fast
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang", "source")
    heavy = synthesize_spans_from(base.filter("doc_id % 100 = 7"),
                                  boiler_repeat=3400)
    light = synthesize_spans_from(base.filter("doc_id % 10 = 3"))
    docs = light.unionByName(heavy).coalesce(1)
    n_heavy = heavy.count()
    assert n_heavy >= 3

    def batch_sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    def run():
        rows = sorted(
            tuple(r) for r in extract_documents(docs, RELAXED)
            .select("doc_id", "status", "tier", "text", "spans").collect())
        sizes = [r["n"] for r in
                 docs.mapInPandas(batch_sizes, "n long").collect()]
        return rows, sizes

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    default_rows, default_sizes = run()
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2MB")
    try:
        capped_rows, capped_sizes = run()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    n_docs = light.count() + n_heavy
    assert len(default_rows) == n_docs
    # one partition: one batch under the default cap, several under 2 MB
    assert default_sizes == [n_docs]
    assert len(capped_sizes) > 1 and sum(capped_sizes) == n_docs
    assert capped_rows == default_rows


def test_ivf_precomputed_cells_seam(spark):
    """ivf_topk accepts a precomputed ivf_assign output (the IVF index;
    assign-once / query-many is the production serving shape): fed the
    assignment it would compute inline, it returns identical rows."""
    from trafilatura_spark.functions.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents = emb.filter(F.col("vec_id") % 40 == 0)
    inline = ivf_topk(emb, queries, k=3, n_probe=4, centroids=cents)
    index = ivf_assign(emb, cents).persist()
    served = ivf_topk(emb, queries, k=3, n_probe=4, centroids=cents,
                      cells=index)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(inline) == rows(served)
    index.unpersist()


def test_similarity_guard_rails(spark):
    """Scale-failure guards: a wrong `dim` fails LOUDLY instead of
    collapsing every vector into one bucket (null-padded zip_with dots),
    a precomputed cells= index demands its matching centroids=, and
    k-means init falls back for non-dense ids instead of returning an
    empty centroid frame."""
    import pytest as _pytest

    from trafilatura_spark.functions.similarity import (
        ann_lsh_topk, ivf_topk, lsh_bucket_table, train_ivf_centroids)

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>")

    # wrong dim -> raise_error at evaluation, not silent degradation
    with _pytest.raises(Exception, match="embedding length"):
        lsh_bucket_table(emb, dim=64).collect()
    # right dim works
    assert lsh_bucket_table(emb, dim=8).count() == 12 * 8

    with _pytest.raises(ValueError, match="centroids"):
        ivf_topk(emb, emb.limit(2), cells=emb)

    # string ids: `id % stride` casts to null -> the stride init selects
    # nothing; the fallback must still produce n_cells centroids
    emb_s = spark.createDataFrame(
        [(f"u{i:03d}", [float(i + j) for j in range(8)])
         for i in range(12)],
        "vec_id string, embedding array<float>")
    cents = train_ivf_centroids(emb_s, n_cells=3, n_iter=1)
    assert 1 <= cents.count() <= 3

    # exclude_self is now a switch on the LSH path too
    got = ann_lsh_topk(emb, emb.limit(2), k=3, dim=8,
                       exclude_self=False).collect()
    assert any(r["neighbor_id"] == r["query_id"] and r["cosine"] == 1.0
               for r in got)


def test_fingerprints_keeps_null_text_rows(spark):
    """A null-text row must survive fingerprints() with null fingerprint
    columns, not vanish through an inner join against the simhash side."""
    from trafilatura_spark.functions.textstats import fingerprints
    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in fingerprints(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["fp_md5"] is not None
    assert rows[2]["fp_md5"] is None


def test_html_to_documents_numeric_ids(spark):
    """Numeric id columns are coerced to the schema's string doc_id."""
    from trafilatura_spark.sources.corpus import html_to_documents
    df = spark.createDataFrame(
        [(7, "<html><body><p>seven</p></body></html>")],
        "doc_id long, html string")
    row = html_to_documents(df).collect()[0]
    assert row["doc_id"] == "7"
    assert row["spans"][0]["text"].startswith("<html>")
