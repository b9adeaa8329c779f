"""Embedding similarity search (brute-force + LSH-bucketed ANN).

Not present in the reference (its similarity ops are text-level,
deduplication.dart); these are the training-data-pipeline extensions over
``embeddings(vec_id, embedding array<float>, label)``.

Design for 100 TB: the brute-force path broadcasts the (small) query set
against the full corpus — one narrow pass, no shuffle on the corpus side
except the final per-query top-k aggregation.  The LSH path buckets both
sides by random-hyperplane sign bits so each query only scans its bucket;
hyperplane coefficients are md5-derived (deterministic, reproducible in
SQL — no RNG state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_self: bool = True) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, rank per query.

    Output: (query_id, rank, neighbor_id, cosine) — cosine rounded to 6dp
    for cross-engine float-hash stability."""
    # norms hoisted per ROW (not per scored pair — with Q broadcast
    # queries the corpus-side norm would otherwise be recomputed Q
    # times); the float value is identical, so round-6 oracle parity
    # is unaffected.  Same hoist ivf_topk documents.
    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        F.transform(vec_col, lambda x: x.cast("double")
                                    ).alias("v")) \
        .withColumn("n_norm", _norm(F.col("v"))).alias("c")
    qs = queries.select(F.col(id_col).alias("query_id"),
                        F.transform(vec_col, lambda x: x.cast("double")
                                    ).alias("q")) \
        .withColumn("q_norm", _norm(F.col("q"))).alias("qs")
    joined = corpus.join(F.broadcast(qs))
    if exclude_self:
        joined = joined.filter(F.col("c.neighbor_id") != F.col("qs.query_id"))
    sim = (_dot(F.col("qs.q"), F.col("c.v"))
           / (F.col("qs.q_norm") * F.col("c.n_norm")))
    scored = joined.select(F.col("qs.query_id").alias("query_id"),
                           F.col("c.neighbor_id").alias("neighbor_id"),
                           F.round(sim, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def plane_coef(table: int, j: int, d: int) -> float:
    """Deterministic ±1 hyperplane coefficient: +1 iff the first md5 hex
    digit of '{table}-{j}-{d}' is 0-7.  The SQL oracle reproduces this with
    its own md5() — no RNG state anywhere."""
    import hashlib
    h = hashlib.md5(f"{table}-{j}-{d}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) < 8 else -1.0


def lsh_bucket_table(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding", n_tables: int = 8,
                     n_bits: int = 4, dim: int = 64) -> DataFrame:
    """(id, bucket) pairs via multi-table random-hyperplane LSH, computed
    RELATIONALLY: broadcast-join the vectors against a tiny
    (table, bit, plane) frame, one dot product per joined row, then
    string-agg the sign bits per (id, table).  Keeps codegen small (one
    zip_with/aggregate) instead of unrolling n_tables·n_bits expressions.

    Bit j of table t = sign(v · h_{t,j}); h coefficients are md5-derived
    (see plane_coef) so any SQL engine reproduces the buckets.

    One broadcast join against an n_tables-row (t, coefs[n_bits][dim])
    frame; each joined row computes its table's whole bit string from the
    nested coefficient arrays.  Earlier shape — join against an
    (t, j, coefs) frame then groupBy(id, t) + collect_list — shuffled
    n_tables·n_bits rows per vector just to reassemble the bit strings;
    at 10^12 vectors that shuffle dominates.  This form has ZERO
    exchanges (measured also faster at small scale than both the old
    shape and a fully-unrolled one-projection variant, whose
    n_tables·n_bits higher-order-function expressions defeat codegen)."""
    spark = df.sparkSession
    planes = [(t, [[plane_coef(t, j, d) for d in range(dim)]
                   for j in range(n_bits)]) for t in range(n_tables)]
    planes_df = spark.createDataFrame(planes,
                                      "t int, coefs array<array<double>>")
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def bit(cf: Column) -> Column:
        dot = F.aggregate(F.zip_with(F.col("v"), cf, lambda x, c: x * c),
                          F.lit(0.0), lambda acc, x: acc + x)
        return F.when(dot > 0, "1").otherwise("0")

    bits = F.array_join(F.transform(F.col("coefs"), bit), "")
    # a vector whose length differs from `dim` must fail LOUDLY: zip_with
    # null-pads the shorter side, the dot becomes null, every bit falls
    # to "0" and ALL such vectors collapse into one bucket per table —
    # numerically-correct results that silently degrade the bucket join
    # to the quadratic cross product it exists to avoid
    guarded = F.when(F.size("v") == dim, bits).otherwise(F.raise_error(
        F.concat(F.lit("lsh_bucket_table: embedding length "),
                 F.size("v").cast("string"),
                 F.lit(f" != dim={dim} — pass the actual dimension"))))
    return (
        df.select(F.col(id_col).alias("id"), v.alias("v"))
        .join(F.broadcast(planes_df))
        .select("id", F.concat_ws(":", "t", guarded).alias("bucket"))
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.99,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_tables: int = 8, n_bits: int = 4,
                             dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Candidate pairs come from the LSH bucket self-join — identical or
    near-identical directions collide in every table — and only the
    candidates get the exact cosine verify, so the quadratic cross
    product never materializes.  At 10^12 vectors each bucket holds
    ~N/2^n_bits rows per table; skewed buckets (embedding-space hubs)
    are handled by AQE skew-join.  Output: (a, b, cosine) rounded to 6dp
    for cross-engine float-hash stability."""
    b = lsh_bucket_table(emb, id_col, vec_col, n_tables, n_bits, dim)
    cand = (
        b.alias("x").join(b.alias("y"), "bucket")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    vecs = emb.select(F.col(id_col).alias("id"),
                      F.transform(vec_col, lambda x: x.cast("double"))
                      .alias("v"))
    joined = (
        cand.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va")),
                  "a")
        .join(vecs.select(F.col("id").alias("b"), F.col("v").alias("vb")),
              "b")
    )
    sim = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va"))
                                            * _norm(F.col("vb")))
    return (
        joined.select("a", "b", F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ann_lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_tables: int = 16, n_bits: int = 4,
                 dim: int = 64, exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: candidates collide with the query in at least one
    LSH table, then exact cosine rerank over the candidate set.  The bucket
    join replaces the full cross product — at 10^12 vectors each query
    touches ~n_tables · N/2^n_bits candidates.  ``exclude_self`` drops
    neighbor_id == query_id matches (same switch as cosine_topk/ivf_topk
    — turn it off when query ids coincide with corpus ids but name
    different entities)."""
    cbuckets = lsh_bucket_table(emb, id_col, vec_col, n_tables, n_bits, dim) \
        .select(F.col("id").alias("neighbor_id"), "bucket")
    qbuckets = lsh_bucket_table(queries, id_col, vec_col, n_tables, n_bits,
                                dim) \
        .select(F.col("id").alias("query_id"), F.col("bucket").alias("qb"))
    cand = (
        cbuckets.join(F.broadcast(qbuckets), F.col("bucket") == F.col("qb")))
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cand = cand.select("query_id", "neighbor_id").distinct()
    # norms hoisted per row, as in cosine_topk/ivf_topk (identical float
    # value — same evaluation — so round-6 oracle parity holds)
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v")) \
        .withColumn("n_norm", _norm(F.col("v")))
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("q")) \
        .withColumn("q_norm", _norm(F.col("q")))
    joined = cand.join(corpus, "neighbor_id").join(F.broadcast(qs), "query_id")
    sim = (_dot(F.col("q"), F.col("v"))
           / (F.col("q_norm") * F.col("n_norm")))
    scored = joined.select("query_id", "neighbor_id",
                           F.round(sim, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF coarse-quantizer assignment: every vector joins its most
    similar centroid (cosine, ties to the lowest centroid id).

    Shape for 100 TB: the centroid table is a model parameter (always
    small — thousands of rows even for billion-vector corpora), so it
    broadcasts; similarities materialize per (vector, centroid) pair
    inside the map side and the per-vector argmax reduces them with a
    map-side partial aggregate — shuffle volume is ONE row per vector,
    never the pair fan-out.  Output: (id_col, cell, <vec_col> kept).

    Cosine is computed as dot/(norm*norm) over raw doubles — the same
    float evaluation order the SQL oracle uses — so the rounded-6dp
    argmax picks the same cell in both engines."""
    corpus = emb.select(
        F.col(id_col), F.col(vec_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    cents = centroids.select(
        F.col(id_col).alias("cell"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cv"))
    sim = F.round(_dot(F.col("v"), F.col("cv"))
                  / (_norm(F.col("v")) * _norm(F.col("cv"))), 6)
    pairs = corpus.join(F.broadcast(cents)).select(
        id_col, vec_col,
        F.struct((-sim).alias("neg_sim"), F.col("cell")).alias("cand"))
    return (pairs.groupBy(id_col, vec_col)
            .agg(F.min("cand").alias("best"))
            .select(id_col, vec_col, F.col("best.cell").alias("cell")))


def train_ivf_centroids(emb: DataFrame, n_cells: int = 16, n_iter: int = 5,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Lloyd k-means in pure DataFrame algebra: the trained-centroid
    producer for ``ivf_topk(centroids=...)`` at production scale.

    Deterministic init (the same stride sample ivf_topk defaults to, no
    RNG) and a deterministic assign tie-break; the mean update is a
    floating-point reduction whose order is plan-stable, so repeated
    runs over the same layout give identical cells (across different
    partition layouts the means can differ in the last ulp — irrelevant
    for a coarse quantizer).

    Per iteration: one broadcast assign pass (``ivf_assign``: shuffle =
    one row per vector, never the pair fan-out) + one mean-update
    shuffle keyed (cell, dim) with map-side partial averages — post-
    combine volume is partitions x cells x dim regardless of corpus
    size, so at 10^9 vectors the network cost is the assign pass, not
    the update.  Centroid frames are localCheckpoint()ed per iteration:
    tiny (n_cells rows), and it stops the 5-iteration lineage from
    compounding into one giant plan.  Cells that lose all members drop
    out (standard Lloyd behavior; harmless for IVF — fewer, fuller
    cells).

    Returns (id_col = cell id from the final assignment, vec_col =
    array<double> mean vector), directly consumable by ``ivf_topk``."""
    n = emb.count()
    stride = max(n // n_cells, 1)
    # try_cast: under ANSI mode a string id would make `% stride` THROW
    # mid-job; try_cast turns it into null so the fallback below engages
    idnum = F.col(id_col).try_cast("bigint")
    cents = (emb.filter(idnum.isNotNull() & (idnum % stride == 0))
             .orderBy(id_col).limit(n_cells)
             .select(id_col,
                     F.transform(vec_col, lambda x: x.cast("double"))
                     .alias(vec_col))
             .localCheckpoint())
    if cents.count() < n_cells:
        # the stride sample assumes dense 0-based integer ids; sparse or
        # string ids select too few (possibly zero) rows, which would
        # propagate an empty centroid frame and silently return no
        # cells.  Deterministic fallback: the first n_cells in id order.
        cents = (emb.orderBy(id_col).limit(n_cells)
                 .select(id_col,
                         F.transform(vec_col, lambda x: x.cast("double"))
                         .alias(vec_col))
                 .localCheckpoint())
    for _ in range(n_iter):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        cents = (assigned
                 .select("cell",
                         F.posexplode(
                             F.transform(vec_col,
                                         lambda x: x.cast("double")))
                         .alias("pos", "val"))
                 .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
                 .groupBy("cell")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "m"))),
                     lambda s: s["m"]).alias(vec_col))
                 .select(F.col("cell").alias(id_col), vec_col)
                 .localCheckpoint())
    return cents


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             centroid_stride: int = 40, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             exclude_self: bool = True,
             broadcast_probes: bool = True,
             centroids: DataFrame | None = None,
             cells: DataFrame | None = None) -> DataFrame:
    """IVF-flat approximate top-k: the cell structure means each query
    scores only its ``n_probe`` cells' vectors instead of the corpus.

    The default coarse quantizer is a deterministic sample (vectors with
    ``id % centroid_stride == 0``) instead of iterated k-means, so the
    whole pipeline is exactly reproducible in SQL (the correctness
    oracle).  Pass ``centroids`` — any (id_col, vec_col) DataFrame, e.g.
    k-means cells trained offline — for better cell balance at
    production scale; the plan shape is identical either way (the
    centroid table is a broadcast-sized model parameter in both cases).
    Each query probes its ``n_probe`` nearest cells and brute-forces
    only those cells' vectors: one broadcast assignment pass, a probe
    join, one per-query top-k window over the probed subset.

    The probe side carries n_probe rows per query INCLUDING the query
    vector; the default broadcast is right for query sets up to the
    broadcast limit (~millions of rows needs ``broadcast_probes=False``,
    which shuffles both sides on ``cell`` instead — same results, no
    driver/broadcast memory ceiling).

    ``cells`` accepts a precomputed :func:`ivf_assign` output (the IVF
    *index*: one (id, vector, cell) row per corpus vector, against the
    SAME ``centroids``).  Production query serving is assign-once /
    query-many — the inline assignment pass scores every corpus vector
    against every centroid, which at low query counts costs as much as
    brute force (measured at 1 M vectors × 64 cells × 100 queries:
    inline IVF 64 s ≈ brute 62 s; with the assignment persisted, the
    query phase alone is the only per-query cost).  Passing ``cells``
    skips that pass; results are identical by construction."""
    if cells is not None and centroids is None:
        # the index is only meaningful against the centroids that built
        # it; defaulting to the stride sample here would probe cells
        # whose geometry has nothing to do with the index's cell ids —
        # wrong or empty neighbors with no error
        raise ValueError(
            "ivf_topk: cells= (a precomputed ivf_assign index) requires "
            "the centroids= frame it was assigned against")
    if centroids is None:
        centroids = emb.filter(F.col(id_col) % centroid_stride == 0) \
                       .select(id_col, vec_col)
    else:
        centroids = centroids.select(id_col, vec_col)
    if cells is None:
        cells = ivf_assign(emb, centroids, id_col, vec_col)
    cells = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        "cell")

    # query → n_probe nearest centroids (both sides small: broadcast)
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qu"))
    cents = centroids.select(
        F.col(id_col).alias("cell"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cv"))
    qsim = F.round(_dot(F.col("qu"), F.col("cv"))
                   / (_norm(F.col("qu")) * _norm(F.col("cv"))), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("qsim"),
                                               F.asc("cell"))
    probes = (qs.join(F.broadcast(cents))
              .select("query_id", "qv", "cell", qsim.alias("qsim"))
              .withColumn("_r", F.row_number().over(w))
              .filter(F.col("_r") <= n_probe)
              .select("query_id", "qv", "cell"))

    # probe join: corpus vectors only in probed cells reach the scorer.
    # Norms are hoisted per side (computed once per corpus vector / per
    # query row, not per scored pair); the float value is identical, so
    # oracle parity at round-6 is unaffected.
    cells = cells.withColumn(
        "nd", F.transform("nv", lambda x: x.cast("double")))
    cells = cells.withColumn("n_norm", _norm(F.col("nd")))
    probes = probes.withColumn(
        "qd", F.transform("qv", lambda x: x.cast("double")))
    probes = probes.withColumn("q_norm", _norm(F.col("qd")))
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    joined = cells.join(probe_side, "cell")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    sim = _dot(F.col("qd"), F.col("nd")) / (F.col("q_norm")
                                            * F.col("n_norm"))
    scored = joined.select("query_id", "neighbor_id",
                           F.round(sim, 6).alias("cosine"))
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cosine"))
