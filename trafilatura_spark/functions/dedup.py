"""Corpus-level deduplication operators (DataFrame-native).

The reference's dedup is a per-process LRU over segment texts plus a
64-bit Simhash fingerprint (/root/reference/lib/src/deduplication.dart).
Order-dependent mutable caches don't parallelize (SURVEY.md §4.3.5), so
the Spark engine re-expresses every variant relationally:

- exact dedup            → hash + groupBy (map-side partial agg, one shuffle)
- segment repetition     → groupBy over exploded segments (duplicateTest analog)
- MinHash + LSH banding  → explode shingles → min-agg per seed → band join
- Simhash                → explode tokens × bit positions → sign-of-sum agg

Everything is built-in `pyspark.sql.functions` (whole-stage codegen, no
Python in the hot path).  Hashes are md5-derived so the DuckDB oracle
can reproduce values bit-for-bit.

Scale notes: the LSH band join is a self-join on (band_idx, band_hash);
salting is unnecessary because band buckets are uniformly md5-distributed;
AQE handles residual skew.  At 10^12 docs the candidate-pair verify stage
is the expensive part — it only touches docs sharing a band, which is the
point of LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def inject_duplicates(df: DataFrame, id_col: str = "doc_id", every: int = 10,
                      id_offset: int = 1_000_000) -> DataFrame:
    """Deterministic duplicated corpus for dedup demos/tests: every
    ``every``-th doc is appended again under ``id + id_offset``."""
    dups = df.filter(F.col(id_col) % every == 0) \
             .withColumn(id_col, F.col(id_col) + id_offset)
    return df.unionByName(dups)


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one shuffle on md5(text); canonical = min id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.count("*").alias("dup_count"),
             F.min(id_col).alias("canonical_id"))
        .filter(F.col("dup_count") > 1)
    )


def segment_repetitions(df: DataFrame, segments_col: Column,
                        id_col: str = "doc_id", min_len: int = 0,
                        max_repetitions: int = 2) -> DataFrame:
    """Relational duplicateTest (deduplication.dart:335-349): segments seen
    more than ``max_repetitions`` times corpus-wide, with min-length gate
    (reference ``minDuplcheckSize``)."""
    return (
        df.select(F.explode(segments_col).alias("segment"))
        .filter(F.length("segment") > min_len)
        .groupBy(F.md5("segment").alias("segment_md5"))
        .agg(F.count("*").alias("occurrences"))
        .filter(F.col("occurrences") > max_repetitions)
    )


def word_shingles(text_col: str, k: int = 3) -> Column:
    """k-word shingles as an array column — pure JVM expression."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    return F.when(n < k, F.array(F.col(text_col))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
    )


def char_shingles(text_col: str, n: int = 5) -> Column:
    """Character n-gram shingles as an array column — the 'n-gram
    Jaccard' dedup variant for content where word tokenization is
    unreliable (CJK, code, concatenated boilerplate).  Pure JVM
    expression; a shorter-than-n document is its own single shingle."""
    t = F.col(text_col)
    ln = F.length(t)
    return F.when(ln < n, F.array(t)).otherwise(
        F.transform(F.sequence(F.lit(1), ln - (n - 1)),
                    lambda i: t.substr(i, F.lit(n))))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 8,
                       k: int = 3, shingler=None) -> DataFrame:
    """(id, sig array<string>): ONE md5 per shingle; the per-seed value is
    the digest rotated left by ``4*seed`` hex chars, so each seed's min is
    driven by a disjoint 16-bit leading chunk of the same digest —
    approximately independent permutations at 1/n_hashes the hash work of
    one-md5-per-seed.  Lexicographic min over hex strings == numeric min;
    the rotation (two substrings + concat) reproduces bit-for-bit in any
    SQL engine.

    ZERO shuffle: the per-seed min is ``array_min`` over the in-row digest
    array (min over duplicates == min over the distinct set, so no
    ``array_distinct`` pass either).  The earlier explode + groupBy form
    already combined map-side to one shuffle row per doc, but paid the
    explode row machinery plus a hash-aggregate probe per shingle — for
    character shinglers (~1 shingle/char) that dominated the pipeline."""
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 would reuse rotation offsets")
    shingles = shingler(text_col) if shingler is not None \
        else word_shingles(text_col, k)
    digs = df.select(
        F.col(id_col),
        F.transform(shingles, lambda sh: F.md5(sh)).alias("dig"))
    # null text / empty custom-shingler output would yield a null
    # signature; the explode form dropped those rows (no shingle rows to
    # aggregate), and at scale a shared null band is one quadratic hot
    # bucket — keep the drop semantics explicitly.
    digs = digs.filter(F.coalesce(F.size("dig"), F.lit(0)) > 0)

    def _rot_min(s: int) -> Column:
        if s == 0:
            return F.array_min("dig")
        return F.array_min(F.transform(
            "dig",
            lambda d: F.concat(F.substring(d, 4 * s + 1, 32 - 4 * s),
                               F.substring(d, 1, 4 * s))))

    return digs.select(
        F.col(id_col),
        F.array(*[_rot_min(s) for s in range(n_hashes)]).alias("sig"))


def lsh_bands(sig_df: DataFrame, id_col: str = "doc_id",
              band_size: int = 2) -> DataFrame:
    """(id, band_idx, band_hash): the LSH *band store* row shape — hash
    each ``band_size``-wide slice of the minhash signature.  Pure
    per-row expression (posexplode of an in-row transform), no shuffle.

    This is the table a continuously-ingested corpus PERSISTS (bucketed
    or partitioned by ``band_hash`` prefix at production scale) so that
    later batches can dedup against it without re-signaturing the
    corpus — see :func:`near_duplicate_pairs_incremental`."""
    if band_size <= 0:
        # sequence(0, size/0 - 1) is a null sequence -> posexplode drops
        # every row and dedup silently becomes a no-op
        raise ValueError(f"band_size must be >= 1, got {band_size}")
    # band_size > signature width would make floor(size/band)-1 == -1
    # and Spark's sequence(0, -1) DESCEND, emitting a bogus band whose
    # empty slice hashes identically for every doc (one corpus-wide
    # quadratic bucket).  Guard: a shorter-than-one-band signature
    # contributes NO bands (posexplode drops the row).
    n_bands = F.floor(F.size("sig") / band_size).cast("int")
    band_seq = F.when(n_bands >= 1, F.sequence(F.lit(0), n_bands - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                band_seq,
                lambda b: F.md5(F.concat_ws(
                    "|", F.slice("sig", b * band_size + 1, band_size))),
            )
        ).alias("band_idx", "band_hash"),
    )


def _bucket_pairs(members: str) -> Column:
    """Every in-bucket pair of the sorted array column ``members`` as an
    array of ``struct(a, b)`` with ``a`` before ``b`` in array order: an
    in-row explosion, so a bucket of n members yields n*(n-1)/2 pairs."""
    n = F.size(members)
    return F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.slice(members, i + 1, n),
            lambda x: F.struct(F.element_at(members, i).alias("a"),
                               x.alias("b")),
        ),
    ))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        band_size: int = 2,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Band the signature, hash each band, group by (band, hash) and emit
    all in-bucket pairs.  Returns distinct (id_a < id_b) candidate pairs.

    A groupBy + in-bucket pair explode instead of a bands⋈bands self-join:
    same output set, but the signature subtree is evaluated ONCE (the
    self-join re-ran the whole minhash computation for each side) and one
    shuffle replaces join-both-sides.  Bucket sizes are small by LSH
    construction; a pathological bucket (e.g. a corpus-wide boilerplate
    signature) produces quadratic pairs under either formulation."""
    bands = lsh_bands(sig_df, id_col, band_size)
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        # opt-in guard for corpus-wide boilerplate signatures: a bucket of
        # n docs emits n*(n-1)/2 pairs, so one hot bucket can dominate the
        # run.  Dropping oversize buckets is the standard LSH practice —
        # NOTE this changes results (those docs lose their candidacy), so
        # it is off by default and callers should surface the choice.
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(_bucket_pairs("ids")).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.0,
                  broadcast_candidates: bool = True,
                  shingler=None) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs (verification stage).
    ``round(.., 6)`` keeps float hashing stable across engines.

    Shape: explode each pair into (pair, side, doc_id) rows, broadcast
    them into a join against the RAW docs, and only then shingle — so the
    corpus is scanned once, shingling touches candidate docs only, and the
    two-sided sets⋈pairs⋈sets diamond (which shuffled full shingle arrays
    through two joins and re-ran the shingle scan per side) is gone."""
    roles = pairs.select(
        "id_a", "id_b",
        F.explode(F.array(
            F.struct(F.col("id_a").alias("doc_id"), F.lit("a").alias("side")),
            F.struct(F.col("id_b").alias("doc_id"), F.lit("b").alias("side")),
        )).alias("r"),
    ).select("id_a", "id_b", F.col("r.doc_id").alias("_cand_id"),
             F.col("r.side").alias("side"))
    # broadcast is right when LSH yields a modest candidate set (the
    # normal case); for pathological volumes (hot boilerplate buckets)
    # pass broadcast_candidates=False to fall back to a shuffle join,
    # and/or cap buckets via lsh_candidate_pairs(max_bucket_size=...)
    cand_side = F.broadcast(roles) if broadcast_candidates else roles
    cand = df.join(cand_side, F.col(id_col) == F.col("_cand_id"))
    shingles = shingler(text_col) if shingler is not None \
        else word_shingles(text_col, k)
    sets = cand.select(
        "id_a", "id_b", "side",
        F.array_distinct(shingles).alias("sh"))
    per_pair = sets.groupBy("id_a", "id_b").agg(
        F.first(F.when(F.col("side") == "a", F.col("sh")),
                ignorenulls=True).alias("sh_a"),
        F.first(F.when(F.col("side") == "b", F.col("sh")),
                ignorenulls=True).alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        per_pair.select("id_a", "id_b",
                        F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_duplicate_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n_hashes: int = 8,
                         band_size: int = 2, k: int = 3,
                         threshold: float = 0.5,
                         max_bucket_size: int | None = None,
                         broadcast_candidates: bool = True,
                         shingler=None,
                         n_partitions: int | None = None) -> DataFrame:
    """MinHash→LSH→exact-Jaccard pipeline: the scale path for near-dup
    detection (candidates only from shared bands, then verified).

    ``max_bucket_size`` drops hot LSH buckets (boilerplate bands that
    would explode into quadratic pair volume); ``broadcast_candidates=
    False`` switches the verify join to shuffle for pathological
    candidate volumes — both forwarded to the component stages.

    ``n_partitions`` repartitions the corpus before the CPU-heavy
    signature stage.  Use it when the input scan yields fewer splits
    than cores (small files at bench scale); leave None for production
    scans that already carry thousands of partitions — there the extra
    full-text shuffle would cost more than it buys."""
    if n_partitions is not None:
        df = df.repartition(n_partitions)
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, k,
                              shingler=shingler)
    pairs = lsh_candidate_pairs(sigs, id_col, band_size,
                                max_bucket_size=max_bucket_size)
    return jaccard_pairs(df, pairs, id_col, text_col, k, threshold,
                         broadcast_candidates=broadcast_candidates,
                         shingler=shingler)


def near_duplicate_pairs_incremental(
        new_docs: DataFrame, corpus_docs: DataFrame, corpus_sigs: DataFrame,
        id_col: str = "doc_id", text_col: str = "text", n_hashes: int = 8,
        band_size: int = 2, k: int = 3, threshold: float = 0.5,
        max_bucket_size: int | None = None,
        broadcast_candidates: bool = True, shingler=None,
        new_sigs: DataFrame | None = None,
        broadcast_new_bands: bool = True) -> DataFrame:
    """Dedup a NEW batch against an already-signatured corpus: returns
    exactly the pairs of ``near_duplicate_pairs(corpus ∪ new)`` that
    touch at least one new doc (same params ⇒ same values; pinned by a
    differential test) — without re-signaturing or re-shuffling the
    corpus.

    The production serving seam for continuous ingestion (the
    assign-once / query-many shape, like ``similarity.ivf_topk(cells=)``):
    a 10^12-doc corpus keeps a persisted signature store
    (:func:`minhash_signatures` output; ``corpus_sigs``) — per batch,
    only the batch pays signature cost.  Plan shape:

    - new-batch signatures/bands: per-row expressions over the batch;
    - the corpus band store is scanned ONCE, filtered by a broadcast
      left-semi join against the batch's distinct bands (zero shuffle of
      corpus data; a band-store layout partitioned by ``band_hash``
      prefix additionally prunes the scan) — bands the batch does not
      touch cannot produce a new-touching pair, so dropping them is
      lossless;
    - hit-band members (corpus + new) group into buckets and pair-
      explode exactly like :func:`lsh_candidate_pairs` — so
      ``max_bucket_size`` counts the FULL bucket (corpus + new members),
      identical to the full-run semantics — keeping only pairs with a
      new side;
    - the verify stage is :func:`jaccard_pairs` over corpus ∪ new docs,
      which shingles candidate docs only (broadcast roles join).

    Maintaining the store: append ``minhash_signatures(new_docs)`` (pass
    it as ``new_sigs`` to compute it once and persist).  Corpus and
    batch ids must be disjoint (same contract as a union).
    ``broadcast_new_bands=False`` switches the semi-filter and the
    bucket groupBy input to shuffle joins for batches too large to
    broadcast."""
    if new_sigs is None:
        new_sigs = minhash_signatures(new_docs, id_col, text_col, n_hashes,
                                      k, shingler=shingler)
    bands_new = lsh_bands(new_sigs, id_col, band_size)
    hit_keys = bands_new.select("band_idx", "band_hash").distinct()
    if broadcast_new_bands:
        hit_keys = F.broadcast(hit_keys)
    bands_hit = lsh_bands(corpus_sigs, id_col, band_size) \
        .join(hit_keys, ["band_idx", "band_hash"], "left_semi")
    members = (bands_hit.withColumn("_is_new", F.lit(False))
               .unionByName(bands_new.withColumn("_is_new", F.lit(True))))
    # struct sort orders by the leading field, so members sort by id —
    # the same ascending order lsh_candidate_pairs' sort_array produces,
    # hence identical (id_a < id_b) pair normalization
    buckets = (
        members.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col(id_col).alias("i"), "_is_new"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket_size)
    cand = (
        buckets.select(F.explode(_bucket_pairs("ms")).alias("p"))
        .filter(F.col("p.a._is_new") | F.col("p.b._is_new"))
        .select(F.col("p.a.i").alias("id_a"), F.col("p.b.i").alias("id_b"))
        .distinct()
    )
    all_docs = (corpus_docs.select(F.col(id_col), F.col(text_col))
                .unionByName(new_docs.select(F.col(id_col),
                                             F.col(text_col))))
    return jaccard_pairs(all_docs, cand, id_col, text_col, k, threshold,
                         broadcast_candidates=broadcast_candidates,
                         shingler=shingler)


def resolve_clusters(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b", max_iter: int = 15) -> DataFrame:
    """Near-dup *pairs* → *clusters* with a canonical survivor each:
    ``(doc_id, cluster_id, is_survivor)`` where ``cluster_id`` is the
    minimum doc_id of the connected component and ``is_survivor`` marks
    that minimum row — the "keep one per cluster" stage a training-data
    dedup run needs after ``near_duplicate_pairs`` /
    ``similarity.near_duplicate_pairs`` (which stop at pairs).

    Iterative min-label propagation (hash-to-min connected components,
    Rastogi et al. 2013's baseline), pure DataFrame ops — no GraphFrames
    dependency: each round every vertex takes the min of its own label
    and its neighbors' labels; fixpoint when no label changes.

    Scale notes: each round is one shuffle (groupBy dst) + one join, and
    rounds needed = component *diameter*, not size.  LSH dup clusters
    are near-cliques (every member shares a band with most others), so
    2-4 rounds converge in practice; ``max_iter`` bounds adversarial
    chains — and exhausting it without a zero-change round emits a
    ``RuntimeWarning``, because the returned labels may then SPLIT a
    component into several clusters (silently wrong survivors at
    production scale; raise ``max_iter`` for chain-shaped pair sets).
    The edge table is loop-invariant and PERSISTED up front —
    it typically descends from an expensive pair pipeline (MinHash/LSH,
    embedding buckets) that must not replay once per round — and labels
    are LOCAL-CHECKPOINTED per round, not merely persisted: ``labels``
    enters the next round's plan twice (the neighbor-min join and the
    left join), so without lineage TRUNCATION the logical plan doubles
    every round and the driver's analysis phase goes exponential —
    persist caches row data but the analyzer still walks the full tree.
    Measured: a 15-round run over 725 chain-shaped pairs HUNG the
    driver (>580 s, zero task activity) under persist, and completes in
    seconds under ``localCheckpoint``.  Clique-shaped LSH clusters
    converge in 2-4 rounds, which is why the persist version survived
    every minhash workload.  On a real cluster prefer a reliable
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` if
    executor loss during the loop must be survivable; localCheckpoint
    trades that for zero-I/O truncation.  Convergence is detected with
    a count action per round — a driver-side scalar, not a collect of
    data rows.
    """
    src, dst = "_cc_src", "_cc_dst"
    edges = (pairs.select(F.col(id_a).alias(src), F.col(id_b).alias(dst))
             .union(pairs.select(F.col(id_b).alias(src),
                                 F.col(id_a).alias(dst)))
             .distinct()
             .persist())
    labels = (edges.select(F.col(src).alias("doc_id"))
              .distinct()
              .withColumn("cluster_id", F.col("doc_id"))
              .localCheckpoint(eager=True))  # also materializes the edge cache
    converged = False
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges[src] == labels["doc_id"])
                   .groupBy(F.col(dst).alias("doc_id"))
                   .agg(F.min("cluster_id").alias("_nbr_min")))
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select("doc_id",
                    F.least("cluster_id", F.coalesce("_nbr_min",
                                                     F.col("cluster_id")))
                    .alias("cluster_id"))
            .localCheckpoint(eager=True))
        changed = (new_labels.join(labels.withColumnRenamed(
                        "cluster_id", "_old"), "doc_id")
                   .filter(F.col("cluster_id") != F.col("_old"))
                   .count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings
        warnings.warn(
            f"resolve_clusters: labels still changing after max_iter="
            f"{max_iter} rounds (component diameter exceeds the budget);"
            " returned clusters may split components — raise max_iter",
            RuntimeWarning, stacklevel=2)
    # labels is fully materialized (the changed-count action ran over
    # it), so the edge cache can go; lineage stays intact for recompute
    edges.unpersist()
    return labels.withColumn("is_survivor",
                             F.col("doc_id") == F.col("cluster_id"))


def simhash_near_duplicate_pairs(df: DataFrame, id_col: str = "doc_id",
                                 text_col: str = "text",
                                 max_hamming: int = 3,
                                 max_bucket_size: int | None = None
                                 ) -> DataFrame:
    """Simhash near-dup pairs: ``(id_a, id_b, hamming)`` for every pair
    whose 32-bit simhash differs in at most ``max_hamming`` bits.

    The scale path is pigeonhole banding (Manku et al. 2007, WWW —
    "Detecting near-duplicates for web crawling"): split the
    fingerprint into ``max_hamming + 1`` disjoint bit bands; any pair
    within ``max_hamming`` must match EXACTLY on at least one band, so
    candidates come from a groupBy per band — never an all-pairs
    hamming self-join.  Candidates are then verified with the exact
    :func:`hamming32` distance, so banding adds no false positives and
    (unlike minhash LSH) loses no true pairs: recall is exactly 1.0 at
    the chosen radius.

    Plan shape: the fingerprint RIDES the banding rows — bucket members
    collect ``(id, fp)`` structs, so pair explosion carries both fps
    and the hamming verify is a pure expression.  One corpus scan, one
    fingerprint shuffle (relational simhash), one band groupBy shuffle,
    one pair distinct — ZERO joins (a verify-by-join draft computed the
    whole fingerprint aggregate twice, once per join side — visible as
    a duplicated Scan→Generate→HashAggregate subtree in the plan).

    ``max_bucket_size`` drops hot buckets, same semantics as
    :func:`lsh_candidate_pairs` (corpus-wide boilerplate collapses to
    one fingerprint → one huge band bucket).

    Scale bound — band ENTROPY, not shuffle shape: each band holds
    ``32 // (max_hamming+1)`` bits, so at radius 3 a band has only 2^8
    values and expected bucket size is N/256 — past ~10^5-10^6 docs the
    buckets themselves go quadratic regardless of caps.  This mirrors
    Manku et al., who band a 64-bit fingerprint for exactly this
    reason.  For web-scale corpora use the minhash strategy (bucket
    keys are md5-wide) or cap buckets and accept the dropped
    candidates; the simhash strategy's niche is moderate corpora that
    need recall-1.0-at-a-radius semantics.
    """
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 32:
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    fps = simhash32_table(df, id_col, text_col)
    base, rem = divmod(32, n_bands)
    bands, off = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        bands.append(F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright("fp_simhash", off)
             .bitwiseAND(F.lit((1 << width) - 1)).alias("band_val")))
        off += width
    banded = fps.select(
        id_col, "fp_simhash", F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "fp_simhash",
             F.col("b.band_idx").alias("band_idx"),
             F.col("b.band_val").alias("band_val"))
    # struct sort orders by the leading field (id) — ascending
    # (id_a < id_b) pair normalization, same as lsh_candidate_pairs
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col(id_col).alias("i"),
                     F.col("fp_simhash").alias("fp")))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket_size)
    return (
        buckets.select(F.explode(_bucket_pairs("ms")).alias("p"))
        .select(F.col("p.a.i").alias("id_a"), F.col("p.b.i").alias("id_b"),
                hamming32(F.col("p.a.fp"), F.col("p.b.fp")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_corpus(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", strategy: str = "minhash",
                 threshold: float | None = None, keep: str = "min-id",
                 n_hashes: int = 8, band_size: int = 2, k: int = 3,
                 max_bucket_size: int | None = None,
                 max_iter: int = 15,
                 n_partitions: int | None = None,
                 max_hamming: int = 3,
                 vec_col: str = "embedding", dim: int = 64
                 ) -> tuple[DataFrame, DataFrame]:
    """End-to-end corpus deduplication: docs in, deduped docs out.

    Returns ``(deduped, labels)``:

    - ``deduped`` — the input rows minus every non-survivor (all input
      columns preserved; docs in no duplicate cluster pass through);
    - ``labels`` — ``(doc_id, cluster_id, is_survivor)`` covering ONLY
      docs that belong to some duplicate cluster (the removal audit
      trail a training-data pipeline keeps next to the deduped corpus).

    ``strategy``:

    - ``'exact'`` — byte-identical text via md5 groupBy (one shuffle;
      the cluster IS the hash group, so no component resolution runs);
    - ``'minhash'`` — :func:`near_duplicate_pairs` (MinHash→LSH→exact
      Jaccard at ``threshold``) then :func:`resolve_clusters`
      (min-label propagation, ``max_iter`` rounds).  Exact copies share
      every band, so this strategy subsumes ``'exact'``;
    - ``'simhash'`` — :func:`simhash_near_duplicate_pairs` (pigeonhole-
      banded candidates, exact hamming verify at ``max_hamming``) then
      :func:`resolve_clusters`.  Recall 1.0 at the radius (banding is
      lossless), and also subsumes ``'exact'`` (hamming 0);
    - ``'embedding'`` — :func:`similarity.embedding_near_dup_pairs`
      (hyperplane-LSH bucketed cosine over ``vec_col``, verified at
      ``threshold``, default 0.99) then :func:`resolve_clusters`.  The
      null guard applies to ``vec_col``; ``keep='longest'`` needs
      ``text_col`` present in the frame.

    ``threshold`` defaults per strategy: Jaccard 0.5 for minhash,
    cosine 0.99 for embedding.

    ``keep``: ``'min-id'`` keeps the minimum doc id per cluster (the
    :func:`resolve_clusters` canonical — deterministic and join-free);
    ``'longest'`` re-picks the longest text per cluster (ties broken by
    min id) — the usual "keep the fullest capture" policy when dups are
    truncated mirrors of one another.  The re-pick windows over CLUSTER
    MEMBER rows only (a vanishing fraction of the corpus), not the
    corpus itself.

    Null/empty text never forms a cluster (an md5-of-null group or an
    all-empty-shingle band would otherwise glue unrelated rows); such
    rows always survive.

    Scale notes: ``labels`` is returned persisted (both consumers — the
    removal anti-join and any report write — would otherwise replay the
    pair pipeline); callers may ``labels.unpersist()`` once both are
    materialized.  The final anti-join shuffles the corpus by id once;
    with AQE on, a small non-survivor side is broadcast automatically.
    ``n_partitions`` forwards to :func:`near_duplicate_pairs` for
    small-file inputs whose scan yields fewer splits than cores.
    """
    if strategy not in ("exact", "minhash", "simhash", "embedding"):
        raise ValueError(f"unknown dedup strategy {strategy!r}")
    if keep not in ("min-id", "longest"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if keep == "longest" and text_col not in df.columns:
        raise ValueError(
            f"keep='longest' needs a {text_col!r} column to rank by")
    if strategy == "embedding":
        candidates = df.filter(F.col(vec_col).isNotNull()
                               & (F.size(vec_col) > 0))
    else:
        candidates = df.filter(F.col(text_col).isNotNull()
                               & (F.length(text_col) > 0))
    if strategy == "exact":
        groups = exact_duplicate_groups(candidates, text_col, id_col)
        labels = (
            candidates.select(F.md5(F.col(text_col)).alias("text_md5"),
                              F.col(id_col).alias("doc_id"))
            .join(groups.select("text_md5", "canonical_id"), "text_md5")
            .select("doc_id", F.col("canonical_id").alias("cluster_id"))
            .withColumn("is_survivor",
                        F.col("doc_id") == F.col("cluster_id"))
        )
    else:
        if strategy == "simhash":
            pairs = simhash_near_duplicate_pairs(
                candidates, id_col=id_col, text_col=text_col,
                max_hamming=max_hamming, max_bucket_size=max_bucket_size)
        elif strategy == "embedding":
            from .similarity import embedding_near_dup_pairs
            pairs = embedding_near_dup_pairs(
                candidates, threshold=0.99 if threshold is None
                else threshold, id_col=id_col, vec_col=vec_col,
                dim=dim).withColumnsRenamed({"a": "id_a", "b": "id_b"})
        else:
            pairs = near_duplicate_pairs(
                candidates, id_col=id_col, text_col=text_col,
                n_hashes=n_hashes, band_size=band_size, k=k,
                threshold=0.5 if threshold is None else threshold,
                max_bucket_size=max_bucket_size,
                n_partitions=n_partitions)
        labels = resolve_clusters(pairs, max_iter=max_iter)
    if keep == "longest":
        lengths = df.select(F.col(id_col).alias("doc_id"),
                            F.length(text_col).alias("_len"))
        w = (Window.partitionBy("cluster_id")
             .orderBy(F.desc("_len"), F.asc("doc_id")))
        labels = (labels.join(lengths, "doc_id")
                  .withColumn("is_survivor",
                              F.row_number().over(w) == 1)
                  .drop("_len"))
    labels = labels.persist()
    drop = (labels.filter(~F.col("is_survivor"))
            .select(F.col("doc_id").alias(id_col)))
    deduped = df.join(drop, id_col, "left_anti")
    return deduped, labels


def dedup_corpus_incremental(batch: DataFrame, store_docs: DataFrame,
                             store_sigs: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text", n_hashes: int = 8,
                             band_size: int = 2, k: int = 3,
                             threshold: float = 0.5,
                             max_bucket_size: int | None = None,
                             max_iter: int = 15
                             ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup an arriving batch against an already-deduped corpus store:
    returns ``(accepted, labels, new_sigs)``.

    - ``accepted`` — batch rows that survive (not a near-dup of any
      store doc, nor a non-canonical member of a batch-only cluster);
      these are what a continuous-ingestion pipeline APPENDS to the
      store (all batch columns preserved);
    - ``labels`` — ``(doc_id, cluster_id, is_survivor, in_store)`` over
      every member of a batch-touching cluster, store docs included, so
      the audit trail shows WHICH store doc displaced a batch doc;
    - ``new_sigs`` — :func:`minhash_signatures` rows for the accepted
      batch docs (same ``n_hashes``/``k``), ready to append to the
      signature store so the next batch sees this one.

    Survivor policy — the store is IMMUTABLE: any cluster containing a
    store doc keeps the store doc(s) and removes every batch member;
    batch-only clusters keep the min id.  (A ``keep='longest'`` policy
    cannot apply here: replacing a store doc would invalidate prior
    batches' accept/reject decisions.)

    Pairs come from :func:`near_duplicate_pairs_incremental` (the batch
    pays signature cost, the store is scanned once through a broadcast
    band semi-join — see its docstring for the plan shape), and
    clusters from :func:`resolve_clusters`.  Batch and store ids must
    be disjoint.  Null/empty batch text never clusters and is accepted
    as-is, but carries no signature row.
    """
    candidates = batch.filter(F.col(text_col).isNotNull()
                              & (F.length(text_col) > 0))
    sigs = minhash_signatures(candidates, id_col, text_col, n_hashes, k)
    pairs = near_duplicate_pairs_incremental(
        candidates, store_docs, store_sigs, id_col=id_col,
        text_col=text_col, n_hashes=n_hashes, band_size=band_size, k=k,
        threshold=threshold, max_bucket_size=max_bucket_size,
        new_sigs=sigs)
    labels = resolve_clusters(pairs, max_iter=max_iter)
    store_ids = (store_docs.select(F.col(id_col).alias("doc_id"))
                 .withColumn("_in_store", F.lit(True)))
    members = (labels.join(store_ids, "doc_id", "left")
               .withColumn("_in_store",
                           F.coalesce("_in_store", F.lit(False))))
    has_store = (members.groupBy("cluster_id")
                 .agg(F.max("_in_store").alias("_has_store")))
    labels = (
        members.join(has_store, "cluster_id")
        .withColumn("is_survivor",
                    F.when(F.col("_in_store"), F.lit(True))
                    .when(F.col("_has_store"), F.lit(False))
                    .otherwise(F.col("doc_id") == F.col("cluster_id")))
        .select("doc_id", "cluster_id", "is_survivor",
                F.col("_in_store").alias("in_store"))
        .persist())
    drop = (labels.filter(~F.col("is_survivor") & ~F.col("in_store"))
            .select(F.col("doc_id").alias(id_col)))
    accepted = batch.join(drop, id_col, "left_anti")
    new_sigs = sigs.join(drop, id_col, "left_anti")
    return accepted, labels, new_sigs


def simhash32_table(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, fp_simhash) via the RELATIONAL formulation: explode tokens,
    hash each once, 32 partial-aggregated bit sums, reassemble.

    Prefer this over the expression form for bulk fingerprinting: the
    nested-lambda expression recomputes token md5s per bit position
    (Catalyst collapses any materializing projection back in), while here
    the shuffle boundary materializes each hash exactly once and the 32
    sums are map-side combined — one shuffle keyed by id."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    hashed = toks.select(
        id_col,
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"))
    sums = hashed.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"s{i}")
        for i in range(32)
    ])
    fp = None
    for i in range(32):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")
                      ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select(id_col, fp.alias("fp_simhash"))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash32 values (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Benchmark decontamination (extension past the reference, which has no
# corpus-vs-eval-set operator): drop training documents that share token
# n-grams with an evaluation set — the GPT-3 appendix-C / FineWeb recipe.
# Spark-first shape: the eval set's distinct n-grams are tiny (benchmarks
# are 1e4-1e6 n-grams) and BROADCAST; document n-grams stream through the
# broadcast hash join with ZERO doc-side shuffle; the only exchange is the
# final count over MATCHED rows (contamination is rare, so that aggregate
# input is a sliver of the corpus).  At 10^12 docs this plan reads the
# corpus exactly once.


def normalized_token_ngrams(text_col: str, n: int = 8) -> Column:
    """Lowercased, ASCII-alnum token n-grams as an array column (pure JVM
    expression).  Normalization = lower + collapse ``[^a-z0-9]+`` runs to
    one space + trim, so punctuation/case/whitespace differences cannot
    hide an overlap.  A shorter-than-``n`` document contributes its whole
    normalized text as a single n-gram (the :func:`word_shingles`
    convention, mirrored in the DuckDB oracle)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   "[^a-z0-9]+", " "))
    toks = F.split(norm, " ")
    sz = F.size(toks)
    return F.when(sz < n, F.array(norm)).otherwise(
        F.transform(F.sequence(F.lit(1), sz - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " ")))


def contamination_matches(docs: DataFrame, eval_df: DataFrame, *,
                          n: int = 8, id_col: str = "doc_id",
                          text_col: str = "text",
                          eval_id_col: str = "eval_id",
                          eval_text_col: str = "eval_text") -> DataFrame:
    """(doc_id, eval_id, matched_ngrams) for every document sharing at
    least one normalized token n-gram with an eval-set entry.

    ``matched_ngrams`` counts doc-side n-gram occurrences (a document
    repeating a contaminated phrase counts each occurrence); the eval
    side is distinct-ed per entry so an eval text's internal repetition
    cannot inflate counts."""
    # drop the empty n-gram both sides: any text with no ASCII alnum at
    # all (CJK-only, punctuation-only) normalizes to "" and would glue
    # EVERY such document to every such eval entry — the same
    # empty-key-cluster class dedup_corpus guards against.  Such texts
    # share no actual token overlap; they are simply outside this
    # normalization's alphabet.
    ev = eval_df.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(F.array_distinct(
            normalized_token_ngrams(eval_text_col, n))).alias("ngram")) \
        .filter(F.col("ngram") != "")
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(normalized_token_ngrams(text_col, n)).alias("ngram")) \
        .filter(F.col("ngram") != "")
    return (doc_grams.join(F.broadcast(ev), "ngram")
            .groupBy(id_col, "eval_id")
            .agg(F.count("*").alias("matched_ngrams")))


def decontaminate(docs: DataFrame, eval_df: DataFrame, *, n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_id_col: str = "eval_id",
                  eval_text_col: str = "eval_text") -> DataFrame:
    """Documents with every eval-overlapping doc removed (left_anti on
    the contaminated-id set — the id set is small, so the anti-join
    broadcasts)."""
    bad = contamination_matches(
        docs, eval_df, n=n, id_col=id_col, text_col=text_col,
        eval_id_col=eval_id_col, eval_text_col=eval_text_col
    ).select(id_col).distinct()
    return docs.join(F.broadcast(bad), id_col, "left_anti")
