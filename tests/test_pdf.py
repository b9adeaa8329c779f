"""PDF/layout parse (sources/pdf.py): pure-stdlib extractor + deterministic
generator.  Engine extension per the north rule's extraction tier (the
reference is HTML-only), same output contract as the HTML cascade."""

import zlib

from trafilatura_spark.sources.corpus import doc_parts
from trafilatura_spark.sources.pdf import (
    build_pdf, extract_pdf_spans, _unescape_pdf_string)


def _wrap_pdf(content: bytes, extra_objs: bytes = b"") -> bytes:
    """One-page raw-stream PDF around a content stream."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\n"
        b"stream\n" + content + b"\nendstream\nendobj\n" + extra_objs +
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n")


def test_roundtrip_matches_ground_truth():
    text = ("stream join filter window sort merge the a big small fast "
            "slow table row line value key hash part scan order group agg")
    for doc_id in (0, 1, 2, 3, 4, 5):  # both parities x 0/1/2 images
        spans = extract_pdf_spans(build_pdf(doc_id, text))
        head, para1, para2, m = doc_parts(doc_id, text)
        expect = ([("head", head), ("p", para1)]
                  + [("graphic", f"{16*(i+1)}x{9*(i+1)}") for i in range(m)]
                  + [("p", para2)])
        assert [(s["kind"], s["text"]) for s in spans] == expect
        assert [s["offset"] for s in spans] == list(range(len(expect)))
        for i in range(m):
            assert spans[2 + i]["media_ref"] == f"pdf:obj{8 + i}"


def test_string_escapes_and_hex():
    content = (rb"BT /F1 11 Tf 72 720 Td"
               rb" (paren \( and \) and back\\slash and \101 octal) Tj"
               b" T* <48656c6c6f> Tj ET")
    spans = extract_pdf_spans(_wrap_pdf(content))
    assert len(spans) == 1
    assert spans[0]["text"] == \
        "paren ( and ) and back\\slash and A octal Hello"


def test_tj_array_and_quote_ops():
    content = (b"BT /F1 11 Tf 72 720 Td"
               b" [(frag) -120 (mented)] TJ T* (next line) Tj ET"
               b" BT /F1 18 Tf (a heading) ' ET")
    spans = extract_pdf_spans(_wrap_pdf(content))
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("p", "fragmented next line"), ("head", "a heading")]


def test_flate_stream_with_binary_object_markers():
    """Compressed payloads can contain 'endobj'-like byte sequences; the
    /Length-based scanner must not truncate them (regression: regex
    object splitting lost whole pages)."""
    text = " ".join(f"word{i} the a of" for i in range(40))
    for doc_id in (136, 436):  # historical offenders at sf0.01
        spans = extract_pdf_spans(build_pdf(doc_id, text))
        kinds = [s["kind"] for s in spans]
        assert kinds[0] == "head" and kinds.count("p") == 2


def test_malformed_inputs_yield_empty():
    assert extract_pdf_spans(b"") == []
    assert extract_pdf_spans(b"not a pdf at all") == []
    assert extract_pdf_spans(b"%PDF-1.4\ngarbage with no objects") == []
    # truncated mid-stream: no crash
    pdf = build_pdf(2, "the quick brown fox jumps over a lazy dog again")
    assert isinstance(extract_pdf_spans(pdf[:len(pdf) // 2]), list)


def test_no_trailer_fallback_page_scan():
    """Tolerant-scan recovery: without trailer/Root the /Type /Page
    objects are used in object order."""
    content = b"BT /F1 11 Tf (orphan page text here) Tj ET"
    pdf = (b"%PDF-1.4\n"
           b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\n"
           b"stream\n" + content + b"\nendstream\nendobj\n")
    spans = extract_pdf_spans(pdf)
    assert [s["text"] for s in spans] == ["orphan page text here"]


def test_opaque_filter_image_becomes_graphic_span():
    """DCTDecode image XObjects are opaque bytes but still emit a graphic
    span with dimensions + object ref (multimodal seam contract)."""
    spans = extract_pdf_spans(build_pdf(2, "alpha beta gamma delta epsilon "
                                           "zeta eta theta iota kappa"))
    graphics = [s for s in spans if s["kind"] == "graphic"]
    assert len(graphics) == 2
    assert graphics[0]["text"] == "16x9"
    assert graphics[0]["media_ref"] == "pdf:obj8"


def test_unescape_octal_and_continuation():
    assert _unescape_pdf_string(rb"\110\151") == "Hi"
    assert _unescape_pdf_string(rb"a\zb") == "azb"  # unknown escape drops \


def test_spark_pdf_spans_df(spark):
    import pandas as pd

    from trafilatura_spark.sources.pdf import pdf_spans_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").filter("doc_id < 50")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "pdf": [build_pdf(int(d), t)
                        for d, t in zip(pdf["doc_id"], pdf["text"])]})

    pdfs = docs.mapInPandas(gen, schema="doc_id string, pdf binary")
    out = pdf_spans_df(pdfs)
    rows = out.collect()
    assert len(rows) >= 150  # >=3 spans per doc
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: no shuffle in the PDF pipeline


def test_pdf_job_end_to_end(spark, tmp_path):
    """PDF corpus through the checkpointed job shell: build a (doc_id,
    pdf) parquet, run run_extraction with make_pdf_batches, verify spans
    + per-bucket progress metrics land."""
    import pandas as pd

    from trafilatura_spark.job import run_extraction
    from trafilatura_spark.sources.pdf import make_pdf_batches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").filter("doc_id < 40")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "pdf": [build_pdf(int(d), t)
                        for d, t in zip(pdf["doc_id"], pdf["text"])]})

    inp = str(tmp_path / "pdfs")
    docs.mapInPandas(gen, schema="doc_id string, pdf binary") \
        .write.parquet(inp)

    out = str(tmp_path / "out")
    prog = str(tmp_path / "prog")
    summary = run_extraction(
        spark, spark.read.parquet(inp), out, prog, run_id="pdfrun",
        n_buckets=4, wave_size=2, batches_fn=make_pdf_batches())
    assert summary["docs"] == 40
    assert summary["processed_buckets"] == 4

    res = spark.read.parquet(out)
    assert res.filter("tier = 'pdf'").count() == 40
    assert res.filter("status = 'ok'").count() == 40
    one = res.filter("doc_id = '7'").collect()[0]
    kinds = [s["kind"] for s in one["spans"]]
    assert kinds[0] == "head" and kinds.count("p") == 2
    progress = spark.read.parquet(prog)
    assert progress.count() == 4
    assert progress.agg({"docs": "sum"}).collect()[0][0] == 40


def test_indirect_length_falls_back_to_endstream_scan():
    """'/Length 50 0 R' (indirect reference, multi-digit object number)
    must not be misread as a direct length of 5 via regex backtracking."""
    content = b"BT /F1 11 Tf (indirect length page text) Tj ET"
    pdf = (b"%PDF-1.4\n"
           b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Length 50 0 R >>\n"
           b"stream\n" + content + b"\nendstream\nendobj\n"
           b"50 0 obj\n" + str(len(content)).encode() + b"\nendobj\n")
    spans = extract_pdf_spans(pdf)
    assert [s["text"] for s in spans] == ["indirect length page text"]


def test_contents_array_form():
    """/Contents [5 0 R 6 0 R] (pdfTeX shape): both streams contribute,
    in array order."""
    c1 = b"BT /F1 11 Tf (first stream) Tj ET"
    c2 = b"BT /F1 11 Tf (second stream) Tj ET"
    pdf = (b"%PDF-1.4\n"
           b"3 0 obj\n<< /Type /Page /Contents [5 0 R 6 0 R] >>\nendobj\n"
           b"5 0 obj\n<< /Length " + str(len(c1)).encode() + b" >>\n"
           b"stream\n" + c1 + b"\nendstream\nendobj\n"
           b"6 0 obj\n<< /Length " + str(len(c2)).encode() + b" >>\n"
           b"stream\n" + c2 + b"\nendstream\nendobj\n")
    spans = extract_pdf_spans(pdf)
    assert [s["text"] for s in spans] == ["first stream", "second stream"]


def test_invalid_non_octal_escape_does_not_nuke_document():
    r"""'\8' is not octal; one bad escape must not discard the whole
    document (tolerant recovery)."""
    content = rb"BT /F1 11 Tf (foo\8bar) Tj T* (second line kept) Tj ET"
    spans = extract_pdf_spans(_wrap_pdf(content))
    assert len(spans) == 1
    assert "second line kept" in spans[0]["text"]
    assert "foo8bar" in spans[0]["text"]


def test_nested_pages_tree():
    """Balanced /Pages trees (intermediate /Pages nodes in /Kids, pdfTeX
    shape) must recurse to the leaf /Page objects in order."""
    c1 = b"BT /F1 11 Tf (page one) Tj ET"
    c2 = b"BT /F1 11 Tf (page two) Tj ET"
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [10 0 R 11 0 R] /Count 2 >>\nendobj\n"
           b"10 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"11 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 10 0 R /Contents 5 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Type /Page /Parent 11 0 R /Contents 6 0 R >>\nendobj\n"
           b"5 0 obj\n<< /Length " + str(len(c1)).encode() + b" >>\n"
           b"stream\n" + c1 + b"\nendstream\nendobj\n"
           b"6 0 obj\n<< /Length " + str(len(c2)).encode() + b" >>\n"
           b"stream\n" + c2 + b"\nendstream\nendobj\n"
           b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n")
    spans = extract_pdf_spans(pdf)
    assert [s["text"] for s in spans] == ["page one", "page two"]


def test_backslash_eol_line_continuation():
    """Backslash-EOL removes BOTH characters (PDF spec): words split
    across content-stream lines must not grow an internal space."""
    assert _unescape_pdf_string(b"long\\\nword") == "longword"
    assert _unescape_pdf_string(b"long\\\r\nword") == "longword"


def test_mixed_depth_pages_tree_preserves_document_order():
    """Leaf pages and intermediate /Pages nodes as SIBLINGS (pdftk-merged
    shape): depth-first order is the document order.  The old
    breadth-first walk deferred the subtree's leaves until after all
    root-level siblings, transposing pages (e.g. [one, three, two])."""
    c = [b"BT /F1 11 Tf (page %s) Tj ET" % w
         for w in (b"one", b"two", b"three")]
    objs = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            # root kids: leaf 3, SUBTREE 10 (containing leaf 4), leaf 5
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 10 0 R 5 0 R] "
            b"/Count 3 >>\nendobj\n"
            b"10 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Contents 6 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Type /Page /Contents 7 0 R >>\nendobj\n"
            b"5 0 obj\n<< /Type /Page /Contents 8 0 R >>\nendobj\n")
    for i, content in enumerate(c):
        objs += (b"%d 0 obj\n<< /Length %d >>\nstream\n" % (6 + i,
                                                            len(content))
                 + content + b"\nendstream\nendobj\n")
    objs += b"trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n"
    spans = extract_pdf_spans(objs)
    assert [s["text"] for s in spans] == ["page one", "page two",
                                          "page three"]


def test_pdf_empty_rows_carry_len_text_zero(spark):
    """status='empty' rows report len_text=0 (the emitted length), the
    same contract as the HTML path's size gate."""
    import pandas as pd

    from trafilatura_spark.core import Options
    from trafilatura_spark.sources.pdf import build_pdf, make_pdf_batches

    blob = build_pdf(1, "tiny")
    batches = make_pdf_batches(Options(min_output_size=10_000))
    [out] = list(batches(iter([pd.DataFrame(
        {"doc_id": [1], "pdf": [blob]})])))
    assert out["status"].tolist() == ["empty"]
    assert out["len_text"].tolist() == [0]

