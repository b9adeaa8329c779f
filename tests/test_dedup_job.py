"""End-to-end corpus dedup: dedup_corpus + job --mode dedup.

The reference dedups per-process (deduplication.dart LRU); the corpus-
level "pairs → clusters → keep one per cluster" stage is the engine
extension a training-data pipeline needs.  These tests pin the full
path: strategy selection, survivor policy, null-text safety, and the
CLI mode against expected survivor sets built by construction.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from trafilatura_spark.functions.dedup import dedup_corpus
from trafilatura_spark.job import main as job_main


def _corpus(spark):
    """9 docs: exact-dup cluster {1,2}, near-dup cluster {3,4,5}
    (word-substituted variants, Jaccard >= 0.5 on 3-shingles), unique
    {6,7}, null text {8}, empty text {9}."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    near1 = base.replace("quick", "swift")
    near2 = base.replace("lazy", "sleepy")
    twin = ("identical press release copied verbatim across two "
            "syndication mirrors with byte equal body content")
    rows = [
        (1, twin),
        (2, twin),
        (3, base),
        (4, near1),
        (5, near2),
        (6, "completely different text about spark catalyst plans "
            "and shuffle boundaries in distributed aggregation"),
        (7, "another unrelated document mentioning minhash bands "
            "and jaccard verification over shingled token sets"),
        (8, None),
        (9, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_corpus_exact(spark):
    deduped, labels = dedup_corpus(_corpus(spark), strategy="exact")
    lab = {r["doc_id"]: (r["cluster_id"], r["is_survivor"])
           for r in labels.collect()}
    # only the byte-identical pair clusters; near-dups 3/4/5 stay apart
    assert lab == {1: (1, True), 2: (1, False)}
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [1, 3, 4, 5, 6, 7, 8, 9]
    labels.unpersist()


def test_dedup_corpus_minhash_clusters_and_null_safety(spark):
    deduped, labels = dedup_corpus(_corpus(spark), strategy="minhash")
    lab = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    # exact pair collapses, near-dups form one component; nulls/empties
    # and the unique docs never enter any cluster
    assert lab[1] == lab[2] == 1
    assert lab[3] == lab[4] == lab[5] == 3
    assert set(lab) == {1, 2, 3, 4, 5}
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [1, 3, 6, 7, 8, 9]
    labels.unpersist()


def test_dedup_corpus_keep_longest(spark):
    # doc 2 made strictly longer than doc 1: 'longest' flips the
    # exact-cluster survivor, min-id keeps 1
    df = _corpus(spark).withColumn(
        "text", F.when(F.col("doc_id") == 2,
                       F.concat("text", F.lit(" padded longer tail")))
                .otherwise(F.col("text")))
    deduped, labels = dedup_corpus(df, strategy="minhash", keep="longest")
    surv = {r["doc_id"] for r in labels.filter("is_survivor").collect()}
    # near-dup cluster: 5 ('sleepy' for 'lazy', +2 chars) outranks the
    # equal-length 3/4 pair
    assert surv == {2, 5}
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [2, 5, 6, 7, 8, 9]
    labels.unpersist()


def test_dedup_corpus_simhash(spark):
    # same clusters as minhash at the default radius: {1,2} hamming 0,
    # {3,4,5} hamming <= 1 (measured), everything else >= 14 apart
    deduped, labels = dedup_corpus(_corpus(spark), strategy="simhash")
    lab = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert lab[1] == lab[2] == 1
    assert lab[3] == lab[4] == lab[5] == 3
    assert set(lab) == {1, 2, 3, 4, 5}
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [1, 3, 6, 7, 8, 9]
    labels.unpersist()
    # radius 0 = identical fingerprints only: the twin pair, plus 4/5
    # (single-word substitutions that land on the same simhash)
    deduped0, labels0 = dedup_corpus(_corpus(spark), strategy="simhash",
                                     max_hamming=0)
    kept0 = sorted(r["doc_id"] for r in deduped0.collect())
    assert kept0 == [1, 3, 4, 6, 7, 8, 9]
    labels0.unpersist()


def _vec_corpus(spark):
    """7 vectors: {1,2,3} share a direction (3 is a scaled copy --
    cosine 1.0), {4,5} nearly parallel (cosine ~0.9992), 10 orthogonal,
    null vec 11, empty vec 12."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.04, 0.0]),
        (10, [0.0, 0.0, 0.0, 1.0]),
        (11, None),
        (12, []),
    ]
    return spark.createDataFrame(rows,
                                 "doc_id long, embedding array<double>")


def test_dedup_corpus_embedding(spark):
    deduped, labels = dedup_corpus(_vec_corpus(spark),
                                   strategy="embedding", dim=4)
    lab = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert lab[1] == lab[2] == lab[3] == 1
    assert lab[4] == lab[5] == 4
    assert set(lab) == {1, 2, 3, 4, 5}
    kept = sorted(r["doc_id"] for r in deduped.collect())
    assert kept == [1, 4, 10, 11, 12]
    labels.unpersist()
    # tighter threshold splits the nearly-parallel pair
    _, labels2 = dedup_corpus(_vec_corpus(spark), strategy="embedding",
                              dim=4, threshold=0.9999)
    assert {r["doc_id"] for r in labels2.collect()} == {1, 2, 3}
    labels2.unpersist()
    # keep='longest' has no text column to rank by
    with pytest.raises(ValueError, match="longest"):
        dedup_corpus(_vec_corpus(spark), strategy="embedding", dim=4,
                     keep="longest")


def test_job_mode_dedup_embedding_cli(spark, tmp_path, capsys):
    inp = str(tmp_path / "vecs")
    out = str(tmp_path / "deduped")
    _vec_corpus(spark).write.parquet(inp)
    rc = job_main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--dedup-strategy", "embedding", "--dedup-dim", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1].replace("'", '"'))
    assert summary["kept"] == 5 and summary["removed"] == 3
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 4, 10, 11, 12]


def test_dedup_corpus_rejects_unknown_knobs(spark):
    df = _corpus(spark)
    with pytest.raises(ValueError):
        dedup_corpus(df, strategy="semantic")
    with pytest.raises(ValueError):
        dedup_corpus(df, keep="newest")


def test_job_mode_dedup_cli(spark, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "deduped")
    rep = str(tmp_path / "report")
    _corpus(spark).write.parquet(inp)
    rc = job_main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--dedup-report", rep])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1].replace("'", '"'))
    assert summary["kept"] == 6 and summary["removed"] == 3
    assert summary["clusters"] == 2
    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(out).collect())
    assert kept == [1, 3, 6, 7, 8, 9]
    report = spark.read.parquet(rep)
    assert sorted(report.columns) == ["cluster_id", "doc_id",
                                      "is_survivor"]
    assert report.filter("is_survivor").count() == 2
    # rerun overwrites, not appends
    rc = job_main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--dedup-report", rep, "--dedup-strategy", "exact"])
    assert rc == 0
    assert spark.read.parquet(out).count() == 8
    # hot-band guard forwards: cap 1 drops every LSH bucket, so the
    # minhash strategy removes nothing
    rc = job_main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--dedup-report", rep, "--dedup-max-bucket-size", "1"])
    assert rc == 0
    assert spark.read.parquet(out).count() == 9
    # simhash strategy + radius flag forward: hamming 0 keeps 4 apart
    # from 3 but collapses the fingerprint-identical pairs {1,2}, {4,5}
    rc = job_main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--dedup-report", rep, "--dedup-strategy", "simhash",
                   "--dedup-max-hamming", "0"])
    assert rc == 0
    assert spark.read.parquet(out).count() == 7


BASE2 = ("a second long template sentence about streaming ingestion "
         "pipelines that keep appending fresh web captures into a "
         "deduplicated corpus store every single hour")


def test_dedup_corpus_incremental_store_semantics(spark):
    from trafilatura_spark.functions.dedup import (
        dedup_corpus_incremental, minhash_signatures)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    store_docs = spark.createDataFrame(
        [(3, base),
         (6, "completely different text about spark catalyst plans "
             "and shuffle boundaries in distributed aggregation")],
        "doc_id long, text string")
    store_sigs = minhash_signatures(store_docs)
    batch = spark.createDataFrame(
        [(101, base.replace("quick", "swift")),   # near-dup of store 3
         (102, BASE2),                            # batch-only cluster,
         (103, BASE2.replace("hour", "night")),   # min id 102 survives
         (104, None)],                            # null text: accepted
        "doc_id long, text string")
    accepted, labels, new_sigs = dedup_corpus_incremental(
        batch, store_docs, store_sigs)
    assert sorted(r["doc_id"] for r in accepted.collect()) == [102, 104]
    lab = {r["doc_id"]: (r["cluster_id"], r["is_survivor"], r["in_store"])
           for r in labels.collect()}
    # the store doc wins its cluster even though 3 < 101 would anyway;
    # the batch-only cluster keeps its min id
    assert lab[3] == (3, True, True)
    assert lab[101] == (3, False, False)
    assert lab[102] == (102, True, False)
    assert lab[103] == (102, False, False)
    assert set(lab) == {3, 101, 102, 103}
    # signatures returned only for accepted docs WITH text
    assert sorted(r["doc_id"] for r in new_sigs.collect()) == [102]
    labels.unpersist()


def test_job_mode_dedup_signature_store_cli(spark, tmp_path, capsys):
    store = str(tmp_path / "store")
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    inp1, inp2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _corpus(spark).write.parquet(inp1)
    spark.createDataFrame(
        [(101, ("the swift brown fox jumps over the lazy dog and then "
                "runs far away into the deep dark quiet forest tonight")),
         (102, BASE2),
         (103, BASE2.replace("hour", "night"))],
        "doc_id long, text string").write.parquet(inp2)

    # batch 1 bootstraps the store: full dedup (kept 6 of 9)
    rc = job_main(["--mode", "dedup", "--input", inp1, "--output", out1,
                   "--signature-store", store])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip()
                    .splitlines()[-1].replace("'", '"')
                    .replace("True", "true").replace("False", "false"))
    assert s1["kept"] == 6 and s1["store_docs"] == 6
    assert s1["incremental"] is False

    # batch 2 dedups against the store: 101 hits store doc 3's cluster,
    # 102/103 form a batch-only cluster
    rc = job_main(["--mode", "dedup", "--input", inp2, "--output", out2,
                   "--signature-store", store])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip()
                    .splitlines()[-1].replace("'", '"')
                    .replace("True", "true").replace("False", "false"))
    assert s2["kept"] == 1 and s2["removed"] == 2
    assert s2["incremental"] is True and s2["store_docs"] == 7
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == [102]

    # re-submitting ids the store already holds is an error
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--input", inp2,
                  "--output", str(tmp_path / "o3"),
                  "--signature-store", store])
    # and the store only speaks minhash
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--input", inp2,
                  "--output", str(tmp_path / "o4"),
                  "--signature-store", store,
                  "--dedup-strategy", "simhash"])


def test_batch_signature_store_crash_windows(spark, tmp_path, capsys):
    """Batch --signature-store mirrors the streaming writer's crash
    semantics: sigs append BEFORE docs (a torn run re-runs cleanly with
    no duplicate sig rows), a docs-without-sigs store is healed, and
    the store keeps the narrow (id, text) schema both writers share."""
    import shutil

    from trafilatura_spark.functions.dedup import minhash_signatures

    store = str(tmp_path / "store")
    inp1, inp2, inp3 = (str(tmp_path / d) for d in ("b1", "b2", "b3"))
    out = str(tmp_path / "o")
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    spark.createDataFrame(
        [(1, base),
         (2, "completely different text about catalyst plan rewrites "
             "and adaptive shuffle coalescing in modern engines")],
        "doc_id long, text string").write.parquet(inp1)
    rc = job_main(["--mode", "dedup", "--input", inp1, "--output", out,
                   "--signature-store", store])
    assert rc == 0
    capsys.readouterr()
    # the store is the narrow 2-column schema (same as streaming's)
    assert sorted(spark.read.parquet(store + "/docs").columns) == \
        ["doc_id", "text"]

    # crash window: batch 2's sigs landed, its docs did not
    uniq = ("an entirely novel passage describing arrow record batches "
            "and pandas udf serialization overhead in python workers")
    b2 = spark.createDataFrame([(10, uniq)], "doc_id long, text string")
    b2.write.parquet(inp2)
    minhash_signatures(b2).write.mode("append").parquet(store + "/sigs")
    rc = job_main(["--mode", "dedup", "--input", inp2,
                   "--output", str(tmp_path / "o2"),
                   "--signature-store", store])  # the re-run
    assert rc == 0
    capsys.readouterr()
    assert sorted(r["doc_id"] for r in spark.read.parquet(
        store + "/docs").collect()) == [1, 2, 10]
    assert spark.read.parquet(store + "/sigs") \
        .filter("doc_id = 10").count() == 1  # no duplicate sig rows

    # torn store: sigs/ deleted -> healed from docs/, dup rejected
    shutil.rmtree(store + "/sigs")
    spark.createDataFrame(
        [(20, base.replace("quick", "swift"))],  # near-dup of stored 1
        "doc_id long, text string").write.parquet(inp3)
    rc = job_main(["--mode", "dedup", "--input", inp3,
                   "--output", str(tmp_path / "o3"),
                   "--signature-store", store])
    assert rc == 0
    s3 = json.loads(capsys.readouterr().out.strip()
                    .splitlines()[-1].replace("'", '"')
                    .replace("True", "true").replace("False", "false"))
    assert s3["kept"] == 0 and s3["removed"] == 1
    healed = sorted(set(r["doc_id"] for r in spark.read.parquet(
        store + "/sigs").select("doc_id").collect()))
    assert healed == [1, 2, 10]


def test_streaming_dedup_against_store(spark, tmp_path):
    """Two file drops drained by two availableNow runs over one
    checkpoint: drop 1 bootstraps the store, drop 2 dedups against it
    (cross-run state lives in the store parquet, not streaming state);
    a third run with no new files appends nothing (checkpoint)."""
    from trafilatura_spark.streaming.dedup_stream import start_dedup_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    store = str(tmp_path / "store")
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    twin = ("identical press release copied verbatim across two "
            "syndication mirrors with byte equal body content")
    spark.createDataFrame(
        [(1, twin), (2, twin), (3, base),
         (6, "completely different text about spark catalyst plans "
             "and shuffle boundaries in distributed aggregation")],
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, chk, store,
                           available_now=True)
    q.awaitTermination(120)
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect()) == [1, 3, 6]

    spark.createDataFrame(
        [(101, base.replace("quick", "swift")),  # dup of store doc 3
         (102, BASE2),                           # batch-only cluster:
         (103, BASE2.replace("hour", "night"))],  # 102 survives
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = start_dedup_stream(spark, src, out, chk, store,
                            available_now=True)
    q2.awaitTermination(120)
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect()) == [1, 3, 6, 102]
    store_ids = sorted(r["doc_id"] for r in spark.read.parquet(
        store + "/docs").collect())
    assert store_ids == [1, 3, 6, 102]
    sig_ids = sorted(r["doc_id"] for r in spark.read.parquet(
        store + "/sigs").select("doc_id").collect())
    assert sig_ids == [1, 3, 6, 102]

    q3 = start_dedup_stream(spark, src, out, chk, store,
                            available_now=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 4


def test_streaming_dedup_crash_windows(spark, tmp_path):
    """Store consistency across foreachBatch crash windows.

    (a) replay after 'sigs appended, docs not' (the one crash window the
    sigs-before-docs write order leaves open): the replayed batch must
    append docs exactly once and must NOT duplicate its sigs rows;
    (b) a torn store with docs/ but no sigs/ (legacy docs-first writer,
    or hand-deleted sigs) must be healed — signatures regenerated from
    docs — instead of silently admitting every duplicate (the old code
    either crashed with PATH_NOT_FOUND forever or, worse ordering,
    never wrote the sigs at all).
    """
    import shutil

    from trafilatura_spark.functions.dedup import minhash_signatures
    from trafilatura_spark.streaming.dedup_stream import make_dedup_batch_fn

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    other = ("completely different text about spark catalyst plans "
             "and shuffle boundaries in distributed aggregation")
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    process = make_dedup_batch_fn(out, store)

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    process(mk([(1, base), (2, other)]), 0)  # bootstrap

    # (a) crash between the sigs and docs appends: batch 2's sigs are in
    # the store, its docs are not — exactly the on-disk state _process
    # leaves when it dies on the docs write.  Re-delivering the batch
    # (foreachBatch is at-least-once) must converge.
    uniq = ("an entirely novel document about columnar batch transfer "
            "and arrow record shredding in python workers tonight")
    minhash_signatures(mk([(10, uniq)]), "doc_id", "text") \
        .write.mode("append").parquet(store + "/sigs")
    process(mk([(10, uniq)]), 1)  # the replay
    docs_ids = sorted(r["doc_id"] for r in
                      spark.read.parquet(store + "/docs").collect())
    assert docs_ids == [1, 2, 10]
    sig_rows = spark.read.parquet(store + "/sigs") \
        .filter("doc_id = 10").count()
    assert sig_rows == 1, "replay must not duplicate the sigs append"
    # and doc 10's signature is live: its near-dup is rejected
    process(mk([(11, uniq.replace("novel", "fresh"))]), 2)
    assert spark.read.parquet(store + "/docs") \
        .filter("doc_id = 11").count() == 0

    # (b) torn store: sigs/ gone entirely -> healed from docs/
    shutil.rmtree(store + "/sigs")
    process(mk([(20, base.replace("quick", "swift"))]), 3)  # dup of 1
    healed = sorted(set(r["doc_id"] for r in spark.read.parquet(
        store + "/sigs").select("doc_id").collect()))
    assert healed == [1, 2, 10]  # regenerated, 20 rejected so absent
    assert spark.read.parquet(store + "/docs") \
        .filter("doc_id = 20").count() == 0

    # a store that EXISTS but cannot be read must propagate (as an
    # AnalysisException at planning time or a SparkException once the
    # footer read is attempted), NOT silently bootstrap over it
    import os

    bad_store = str(tmp_path / "bad_store")
    (tmp_path / "bad_store" / "docs").mkdir(parents=True)
    (tmp_path / "bad_store" / "docs" / "junk.txt").write_text("not parquet")
    out2 = str(tmp_path / "out2")
    bad_process = make_dedup_batch_fn(out2, bad_store)
    with pytest.raises(Exception, match="PARQUET|Parquet|UNABLE_TO_INFER"):
        bad_process(mk([(30, base)]), 0)
    assert not os.path.exists(out2), "must not write output on a bad store"


def test_job_mode_dedup_stream_cli(spark, tmp_path, capsys):
    """`--mode dedup --stream` drains file drops against the store —
    and a BATCH --signature-store run interleaves over the SAME store
    between two streaming runs (the one-store contract)."""
    src = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    binp = str(tmp_path / "batch_in")
    bout = str(tmp_path / "batch_out")

    def summary():
        return json.loads(capsys.readouterr().out.strip()
                          .splitlines()[-1].replace("'", '"')
                          .replace("True", "true").replace("False", "false"))

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark quiet forest tonight")
    spark.createDataFrame(
        [(1, base), (2, base.replace("quick", "swift"))],
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    rc = job_main(["--mode", "dedup", "--stream", "--input", src,
                   "--output", out, "--signature-store", store])
    assert rc == 0
    assert summary() == {"mode": "dedup", "stream": True,
                         "kept": 1, "store_docs": 1}

    # interleaved BATCH run against the same store: 11 dups doc 1,
    # 12 is fresh — only 12 lands
    spark.createDataFrame(
        [(11, base.replace("lazy", "idle")), (12, BASE2)],
        "doc_id long, text string").write.parquet(binp)
    rc = job_main(["--mode", "dedup", "--input", binp, "--output", bout,
                   "--signature-store", store])
    assert rc == 0
    assert summary()["store_docs"] == 2

    # second streaming run resumes from the checkpoint and sees the
    # batch-added doc 12: 21 dups it, 22 is fresh
    spark.createDataFrame(
        [(21, BASE2.replace("hour", "night")),
         (22, "entirely new content about catalyst shuffle planning "
              "and adaptive query execution at scale")],
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    rc = job_main(["--mode", "dedup", "--stream", "--input", src,
                   "--output", out, "--signature-store", store])
    assert rc == 0
    assert summary() == {"mode": "dedup", "stream": True,
                         "kept": 2, "store_docs": 3}
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect()) == [1, 22]

    # guards: the stream needs the store, and only speaks minhash/min-id
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--stream", "--input", src,
                  "--output", out])
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--stream", "--input", src,
                  "--output", out, "--signature-store", store,
                  "--dedup-strategy", "embedding"])
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--stream", "--input", src,
                  "--output", out, "--signature-store", store,
                  "--dedup-keep", "longest"])


@pytest.fixture(params=["batch", "stream"])
def store_caller(request, spark, tmp_path):
    """Run one batch of (doc_id, text) rows against a signature store
    through either caller of the store protocol: the batch job
    (``--mode dedup --signature-store``) or the streaming foreachBatch
    callback."""
    import itertools

    from trafilatura_spark.streaming.dedup_stream import make_dedup_batch_fn
    n = itertools.count()

    def run(rows, out, store):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        if request.param == "stream":
            make_dedup_batch_fn(out, store)(df, next(n))
            return
        inp = str(tmp_path / f"in{next(n)}")
        df.write.parquet(inp)
        assert job_main(["--mode", "dedup", "--input", inp, "--output", out,
                         "--signature-store", store]) == 0

    return run


def test_store_first_batch_crash_rerun(store_caller, spark, tmp_path):
    """A first batch that died between its sigs and docs appends (sigs/
    written, docs/ absent) re-runs as the bootstrap again: every id is
    stored exactly once in docs/ and in sigs/, and the signatures are
    live for the next batch."""
    from trafilatura_spark.functions.dedup import minhash_signatures

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    other = ("completely different text about spark catalyst plans "
             "and shuffle boundaries in distributed aggregation")
    rows = [(1, base), (2, base.replace("quick", "swift")), (3, other),
            (4, None)]
    store = str(tmp_path / "store")
    # the torn first run: survivors 1 and 3 signed, docs/ never written
    minhash_signatures(spark.createDataFrame(
        [(1, base), (3, other)], "doc_id long, text string")) \
        .write.parquet(store + "/sigs")
    store_caller(rows, str(tmp_path / "o1"), store)

    def ids(table):
        return sorted(r["doc_id"] for r in spark.read.parquet(
            f"{store}/{table}").select("doc_id").collect())

    assert ids("docs") == [1, 3, 4]  # null text is stored, never signed
    assert ids("sigs") == [1, 3]
    store_caller([(10, base.replace("lazy", "sleepy"))],  # dup of 1
                 str(tmp_path / "o2"), store)
    assert ids("docs") == [1, 3, 4]
    assert ids("sigs") == [1, 3]


def test_store_unreadable_docs_raises(store_caller, tmp_path):
    """A docs/ that exists but cannot be read propagates its error: no
    bootstrap over it, no output and no store write."""
    store = tmp_path / "store"
    (store / "docs").mkdir(parents=True)
    (store / "docs" / "junk.txt").write_text("not parquet")
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="PARQUET|Parquet|UNABLE_TO_INFER"):
        store_caller([(1, "some text to deduplicate against the store")],
                     out, str(store))
    assert not os.path.exists(out)
    assert not (store / "sigs").exists()


def test_job_mode_dedup_requires_input(tmp_path):
    with pytest.raises(SystemExit):
        job_main(["--mode", "dedup", "--output", str(tmp_path / "o")])


def test_job_mode_decontam_cli(spark, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    ev = str(tmp_path / "eval")
    out = str(tmp_path / "kept")
    rep = str(tmp_path / "matches")
    spark.createDataFrame(
        [(1, "Prefix; the QUICK brown fox jumps over the lazy dog! end"),
         (2, "clean document about partitions"),
         (3, "another clean one entirely")],
        "doc_id long, text string").write.parquet(inp)
    spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "eval_id long, eval_text string").write.parquet(ev)
    rc = job_main(["--mode", "decontam", "--input", inp, "--output", out,
                   "--eval-set", ev, "--ngram-n", "8",
                   "--decontam-report", rep])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1].replace("'", '"'))
    assert summary == {"mode": "decontam", "ngram_n": 8,
                       "kept": 2, "contaminated": 1}
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [2, 3]
    matches = spark.read.parquet(rep).collect()
    assert [(m["doc_id"], m["eval_id"], m["matched_ngrams"])
            for m in matches] == [(1, 100, 2)]


def test_job_mode_decontam_requires_eval_set(spark, tmp_path):
    inp = str(tmp_path / "docs_no_eval")
    spark.createDataFrame([(1, "x")], "doc_id long, text string") \
        .write.parquet(inp)
    with pytest.raises(SystemExit):
        job_main(["--mode", "decontam", "--input", inp,
                  "--output", str(tmp_path / "o")])
