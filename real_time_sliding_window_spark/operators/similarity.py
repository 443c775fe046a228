"""Similarity search over embedding columns.

Three paths, per the scale doctrine:

- **brute-force top-k** (the correctness baseline): broadcast the (small)
  query set against the full corpus; cosine on quantized int64 vectors so
  results are bit-identical to the DuckDB oracle; top-k via a per-query
  window — the shuffle is only |queries| × |corpus| similarity rows, and at
  scale you'd pre-filter by norm bounds or sketch buckets first.
- **IVF-style bucketed top-k** (sign-sketch LSH): assign every vector to a
  coarse bucket (sign-sketch LSH over quantized ints), search only the
  query's bucket (+ flip-1-bit probes). Near-dup regimes only — measured
  recall collapses on unstructured embeddings (BENCH/ANN.md).
- **IVF with a LEARNED coarse quantizer** (integer k-means): Voronoi cells
  adapt to the actual density, so recall holds on general distributions.
  All k-means math is exact int64 → the quantizer is deterministic and
  cross-engine reproducible (the driver oracle replays the full Lloyd's
  iteration as a DuckDB recursive CTE and the value-hash gate passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from real_time_sliding_window_spark.functions import columns as C
from real_time_sliding_window_spark.util import ensure_parallelism


def _quantized(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    emb = ensure_parallelism(emb)
    return emb.select(F.col(id_col).alias("vec_id"), C.quantize(vec_col).alias("qv"))


def cosine_topk(
    emb: DataFrame,
    query_ids,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors (cosine, quantized) for the given query ids.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k by
    (cosine desc, neighbor_id) — fully deterministic.
    """
    q = _quantized(emb, id_col, vec_col)
    # r6 (guide §4.2): the query set is a handful of vectors — collect it
    # as driver-side constants (the kmeans-centroid doctrine; never data
    # rows) and score the corpus in ONE numpy pass per batch instead of a
    # crossJoin evaluating an interpreted zip_with/aggregate dot per pair.
    # The cosine is the same exact IEEE sequence as the JVM expression:
    # double(int64 dot) / (sqrt(double Σq²) · sqrt(double Σv²)).
    qrows = q.filter(F.col("vec_id").isin(list(query_ids))).collect()
    part_schema = StructType(
        [
            StructField("query_id", q.schema["vec_id"].dataType),
            StructField("neighbor_id", q.schema["vec_id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    scored = q.mapInPandas(
        _score_against_queries_fn([(r.vec_id, list(r.qv)) for r in qrows]),
        part_schema,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _score_against_queries_fn(queries: list):
    """mapInPandas body for ``cosine_topk`` (r6): score every corpus batch
    against the constant query matrix with one exact int64 matmul, emitting
    (query_id, neighbor_id, cosine) rows for every non-self pair. Cosine is
    bit-identical to the JVM expression (see _bucket_topk_fn)."""
    import numpy as np
    import pandas as pd

    qids = [qid for qid, _ in queries]
    qmat = np.asarray([qv for _, qv in queries], dtype=np.int64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))

    def f(it):
        for pdf in it:
            if not len(pdf) or not len(qids):
                continue
            mat = np.stack(pdf["qv"].to_numpy()).astype(np.int64, copy=False)
            vid = pdf["vec_id"].to_numpy()
            dots = qmat @ mat.T
            vnorm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
            cos = dots.astype(np.float64) / np.outer(qnorm, vnorm)
            nq, nv = cos.shape
            qcol = np.repeat(np.asarray(qids), nv)
            vcol = np.tile(vid, nq)
            keep = qcol != vcol
            yield pd.DataFrame(
                {
                    "query_id": qcol[keep],
                    "neighbor_id": vcol[keep],
                    "cosine": cos.ravel()[keep],
                }
            )

    return f


def ivf_topk(
    emb: DataFrame,
    query_ids,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: search only vectors in the query's sign-sketch
    bucket — plus, with ``multiprobe``, the n_planes flip-1-bit neighbor
    buckets. Same output schema as cosine_topk (rank within the probed set).

    Scale/recall knobs (VERDICT r01 #3): ``n_planes`` sets the bucket count
    (2^n_planes — more planes = smaller buckets = less work but lower
    recall per probe); ``multiprobe`` compensates by also probing every
    bucket at hamming distance 1 from the query's (the sketch bits most
    likely to disagree between true neighbors are single flips), searching
    (n_planes+1)/2^n_planes of the corpus instead of 1/2^n_planes. The
    probe fan-out is an exploded broadcast of the (small) query set — the
    corpus is scanned once, hash-joined on its single bucket key. Measured
    recall@k vs the exact baseline: `recall_at_k` / the ann_recall driver
    query (BENCH/ANN.md).
    """
    q = _quantized(emb, id_col, vec_col)
    bucketed = q.withColumn("bucket", C.sign_sketch("qv", n_planes))
    queries = bucketed.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("bucket").alias("q_bucket"),
    )
    if multiprobe:
        probes = [F.col("q_bucket")] + [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        queries = queries.select(
            "query_id",
            "q_qv",
            F.explode(F.array(*probes)).alias("q_bucket"),
        )
    pairs = F.broadcast(queries).join(
        bucketed, on=[F.col("q_bucket") == F.col("bucket")]
    ).filter(F.col("query_id") != F.col("vec_id"))
    cos = C.int_dot("q_qv", "qv").cast("double") / (
        C.int_norm("q_qv") * C.int_norm("qv")
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _assign_udf(centroids, n_probe: int = 1):
    """Vectorized nearest-centroid assignment (exact int64 math).

    Returns a pandas UDF mapping a quantized vector column to its nearest
    centroid id (``n_probe == 1``, int) or its ``n_probe`` nearest centroid
    ids (array<int>, by (distance, cid) ascending). Exactness: scores are
    −2·v·c + |c|² in int64 (same argmin as squared L2 — |v|² is constant
    per row), numpy integer matmul is exact, and argmin/stable argsort
    break ties toward the LOWEST cid — the same tie rule as the DuckDB
    oracle's min_by(cid, dist*K + cid). The JVM-side alternative (k
    interpreted `aggregate` lambdas per row) is 10-50× slower — this is
    the sanctioned Arrow-vectorized escape, not a row-at-a-time UDF.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)

    # plain-function + explicit wrap: `from __future__ import annotations`
    # stringifies type hints, which pandas_udf's inference can't resolve
    if n_probe == 1:
        def assign(qv):
            mat = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
            scores = mat @ (-2 * cmat.T) + cnorm[None, :]
            return pd.Series(scores.argmin(axis=1).astype(np.int32))

        return pandas_udf(assign, "int")

    def probe(qv):
        mat = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        scores = mat @ (-2 * cmat.T) + cnorm[None, :]
        near = np.argsort(scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(near.astype(np.int32)))

    return pandas_udf(probe, "array<int>")


def _round_partials_fn(centroids):
    """One Lloyd's-round mapInPandas body (r6): nearest-centroid assignment
    (same exact int64 −2·v·c + |c|² argmin and lowest-cid tie rule as
    ``_assign_udf``) plus per-partition int64 scatter-add partials, so each
    task ships at most k×d (cid, pos, s, c) rows instead of the corpus
    exploded k·d-ways. Summing partials is exact integer addition — the
    global (s, c) totals equal the pre-r6 posexplode aggregate's."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    kk, d = cmat.shape

    def f(it):
        sums = np.zeros((kk, d), dtype=np.int64)
        cnts = np.zeros(kk, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf["qv"].to_numpy()).astype(np.int64, copy=False)
            scores = mat @ (-2 * cmat.T) + cnorm[None, :]
            cid = scores.argmin(axis=1)
            np.add.at(sums, cid, mat)
            cnts += np.bincount(cid, minlength=kk)
        nz = np.flatnonzero(cnts)
        if len(nz):
            yield pd.DataFrame(
                {
                    "cid": np.repeat(nz, d).astype(np.int32),
                    "pos": np.tile(np.arange(d), len(nz)).astype(np.int32),
                    "s": sums[nz].ravel(),
                    "c": np.repeat(cnts[nz], d),
                }
            )

    return f


def _kmeans_rounds(q: DataFrame, n_centroids: int, n_iter: int,
                   require_convergence: bool) -> list[list[int]]:
    """Lloyd's iteration over a materialized quantized-vector DataFrame.

    All arithmetic is int64 so every round is deterministic and
    cross-engine exact (see kmeans_centroids). Each round is one corpus
    pass: Arrow-vectorized assignment, then posexplode + map-side partial
    sum per (cid, dim) — the collect is k×d aggregate rows (centroid
    literals for the next round's broadcast closure), never data rows, so
    plan depth stays constant across rounds (no lineage growth, nothing to
    checkpoint)."""
    seeds = (
        q.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_centroids)
        .collect()
    )
    cents = [list(r.qv) for r in seeds]
    for _ in range(n_iter):
        # r6: one mapInPandas pass fuses assignment + per-partition partial
        # (cid, dim) sums (guide §2.3 "aggregate before you shuffle" at the
        # Python boundary): the round used to round-trip the corpus through
        # ArrowEvalPython and then posexplode k·d·n rows into the aggregate;
        # now each task emits at most k×d partial rows and the shuffle is
        # centroid-sized. Exact int64 scatter-adds — totals are identical,
        # and argmin keeps the same lowest-cid tie rule as _assign_udf.
        rows = (
            q.mapInPandas(
                _round_partials_fn(cents), "cid int, pos int, s long, c long"
            )
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .select(
                "cid",
                "pos",
                F.floor(F.col("s").cast("double") / F.col("c"))
                .cast("long")
                .alias("m"),
            )
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cluster keeps its centroid
        for r in rows:
            nxt[r.cid][r.pos] = r.m
        if nxt == cents:
            return cents  # exact fixpoint: further rounds are identity
        cents = nxt
    if require_convergence:
        raise RuntimeError(
            f"k-means did not reach a fixpoint in {n_iter} rounds "
            f"(k={n_centroids}); raise n_iter — a half-trained quantizer "
            "silently degrades recall."
        )
    return cents


def _probe_score_rank(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int,
    n_probe: int,
    dedup: bool,
) -> DataFrame:
    """IVF query tail of ivf_kmeans_topk: the probe explode, the
    int-cosine, the spill dedup, and the (cosine desc, neighbor_id asc)
    tie-break.
    ``assigned``: (cid, vec_id, qv) rows; ``queries``: (vec_id, qv)."""
    probe_col = (
        _assign_udf(centroids)("qv")
        if n_probe == 1
        else F.explode(_assign_udf(centroids, n_probe)("qv"))
    )
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        probe_col.alias("cid"),
    )
    pairs = F.broadcast(qs).join(assigned, "cid").filter(
        F.col("query_id") != F.col("vec_id")
    )
    cos = C.int_dot("q_qv", "qv").cast("double") / (
        C.int_norm("q_qv") * C.int_norm("qv")
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    if dedup:
        # a neighbor assigned to several probed cells appears once per
        # cell — dedup before ranking or top-k would repeat it
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    require_convergence: bool = False,
) -> list[list[int]]:
    """Learned coarse quantizer: integer k-means over quantized vectors.

    Why integers: float k-means is order-dependent (summation order changes
    the means), so no two engines — or two runs over different partition
    layouts — agree. Here every step is exact int64: quantize(×1000),
    squared-L2 argmin with ties to the lowest cid, per-dimension
    floor(sum/count) update. The same corpus always yields the SAME
    centroids, on Spark, numpy, or DuckDB (the driver oracle replays the
    whole iteration as a recursive CTE and the hash gate passes).

    Seeding is content-addressed (first k vectors by md5(vec_id) order) —
    deterministic without an RNG, stable under ingest order and
    partitioning, and effectively a uniform random draw from the corpus.

    Early exit on an exact fixpoint is parity-safe: once update(C) == C,
    every further round is the identity, so stopping early equals running
    all ``n_iter`` rounds (which is what the oracle does).

    At 100 TB: train on a content-addressed hash sample
    (sampling.hash_bucket) — centroid quality needs ~1000·k vectors, not
    the corpus — then assign the full corpus in the one pass ivf does
    anyway. Each training round is one map pass + a k×d-row aggregate.
    """
    q = _quantized(emb, id_col, vec_col).localCheckpoint(eager=True)
    return _kmeans_rounds(q, n_centroids, n_iter, require_convergence)


def ivf_kmeans_topk(
    emb: DataFrame,
    query_ids,
    k: int = 3,
    n_centroids: int = 8,
    n_iter: int = 4,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
    spill: int = 1,
) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer (k-means centroids), the
    general-distribution ANN path sign-sketch LSH cannot be (measured LSH
    boundary: recall 0.142 @ 3.5 % scan on unstructured embeddings,
    BENCH/ANN.md r02). Same output schema as cosine_topk/ivf_topk:
    (query_id, neighbor_id, cosine, rank).

    Plan shape: corpus pass assigns each vector to its nearest centroid
    (one Arrow-vectorized map, no shuffle); queries explode to their
    ``n_probe`` nearest centroids and broadcast; the join is a hash join on
    cid, so the corpus fraction scanned ≈ n_probe/n_centroids (cluster-size
    weighted). recall/scan tradeoff is measured in BENCH/ANN.md — the
    learned quantizer reaches the recall sign-sketch buckets cannot,
    because Voronoi cells adapt to the actual density instead of slicing
    the sphere with fixed hyperplanes.

    ``centroids``: pass a pre-trained quantizer (from kmeans_centroids) to
    skip training — production reuses one quantizer across queries/batches.

    ``spill``: assign each CORPUS vector to its ``spill`` nearest cells
    (overlapping cells — the standard IVF recall fixer for points near
    Voronoi boundaries, where the true neighbor of a boundary query lives
    in the adjacent cell). Index size and scan cost grow ×spill; recall at
    a fixed scan budget improves because boundary losses dominate misses
    (measured frontier in BENCH/ANN.md). At 100 TB spill multiplies
    storage — keep it ≤ 3 and prefer raising n_probe first when the index
    is disk-bound.
    """
    q = _quantized(emb, id_col, vec_col).localCheckpoint(eager=True)
    if centroids is None:
        centroids = _kmeans_rounds(q, n_centroids, n_iter, False)
    assign_col = (
        _assign_udf(centroids)("qv")
        if spill == 1
        else F.explode(_assign_udf(centroids, spill)("qv"))
    )
    assigned = q.withColumn("cid", assign_col).select("cid", "vec_id", "qv")
    queries = q.filter(F.col("vec_id").isin(list(query_ids))).select(
        "vec_id", "qv"
    )
    return _probe_score_rank(
        assigned, queries, centroids, k, n_probe, dedup=spill > 1
    )


def recall_at_k(
    emb: DataFrame,
    query_ids,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Per-query recall@k of ivf_topk against the exact cosine_topk baseline.

    Output: (query_id, hits, recall) with recall = |ivf ∩ exact| / k — the
    shippability metric for the approximate path (an ANN operator with
    unmeasured recall is not a pipeline component). Both sides use the same
    quantized cosine, so the comparison is exact."""
    exact = cosine_topk(emb, query_ids, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        emb, query_ids, k, id_col, vec_col, n_planes, multiprobe
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    all_q = exact.select("query_id").distinct()
    return all_q.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        (F.coalesce(F.col("hits"), F.lit(0)) / F.lit(k)).cast("double").alias("recall"),
    )


def _bucket_topk_fn(k: int):
    """Cogrouped per-bucket scorer for ``knn_graph`` (r6): one exact int64
    numpy matmul per bucket, then each probe row's top-k candidates by
    (cosine desc, dst asc). Cosine is bit-identical to the JVM expression
    ``cast(int_dot as double) / (sqrt(double Σa²) · sqrt(double Σb²))`` —
    integer matmul is exact and the float64 ops are the same IEEE
    correctly-rounded sequence. Assumes non-NaN cosines (zero-norm vectors
    would produce NaN, which numpy and Spark order differently in desc)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"src": [], "dst": [], "cosine": []})

    def fn(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(left_pdf) or not len(right_pdf):
            return empty
        L = np.stack(left_pdf["qv"].to_numpy()).astype(np.int64, copy=False)
        R = np.stack(right_pdf["qv"].to_numpy()).astype(np.int64, copy=False)
        lid = left_pdf["vec_id"].to_numpy()
        rid = right_pdf["vec_id"].to_numpy()
        if lid.dtype == object:  # string ids: numpy-sortable unicode
            lid = lid.astype(str)
            rid = rid.astype(str)
        dots = L @ R.T
        nl = np.sqrt((L * L).sum(axis=1).astype(np.float64))
        nr = np.sqrt((R * R).sum(axis=1).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots.astype(np.float64) / np.outer(nl, nr)
        eq = lid[:, None] == rid[None, :]
        neg = -cos
        neg[eq] = np.inf  # self pairs sort last, dropped below
        kk = min(k, cos.shape[1])
        dmat = np.broadcast_to(rid[None, :], cos.shape)
        order = np.lexsort((dmat, neg), axis=-1)[:, :kk]
        valid = ~np.take_along_axis(eq, order, axis=1).ravel()
        return pd.DataFrame(
            {
                "src": np.repeat(lid, kk)[valid],
                "dst": rid[order].ravel()[valid],
                "cosine": np.take_along_axis(cos, order, axis=1).ravel()[valid],
            }
        )

    return fn


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe: bool = True,
    max_bucket: int | None = None,
    mutual: bool = False,
) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus: every vector gets its
    top-k cosine neighbors among its LSH-bucket candidates (sign-sketch
    buckets + flip-1-bit multi-probe, with the max_bucket occupancy
    cap on hot buckets).

    This is ivf_topk with EVERY vector as a query — which is exactly why
    it cannot reuse ivf_topk's plan: broadcasting an all-rows "query set"
    is a broadcast of the corpus. Here both sides stay distributed and
    the probe join is a plain shuffled equi-join on the bucket key; scoring
    is exact quantized-int cosine, then one row_number window per source.
    An EXACT graph is inherently all-pairs (O(n²)) and has no place at
    100 TB; candidate volume here is linear: (n_planes+1)·n·occupancy,
    bounded by ``max_bucket`` when buckets run hot (set it ∝ corpus
    growth, or raise n_planes with log2(n) — BENCH/SCALE10X.md doctrine).

    ``mutual=True`` keeps only edges whose reverse edge is also in the
    graph (the mutual-kNN graph used for clustering/visualization
    pruning) — one extra self-join on the (src, dst) edge key.

    Output: (src, dst, cosine, rank), rank 1..k per src by (cosine desc,
    dst) — deterministic; a vector in an empty probe neighborhood simply
    emits fewer than k edges.
    """
    q = _quantized(emb, id_col, vec_col)
    b = q.withColumn("bucket", C.sign_sketch("qv", n_planes))
    right = b
    if max_bucket is not None:
        # cap the join-TARGET side only; every vector still probes OUT
        # (never filter the id universe, only skip hot-bucket candidates)
        cool = b.groupBy("bucket").count().filter(F.col("count") <= max_bucket)
        right = b.join(cool.select("bucket"), "bucket")
    left = b
    if multiprobe:
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        left = b.select(
            "vec_id", "qv", F.explode(F.array(*probes)).alias("bucket")
        )
    # r6 scoring plan (guide §4.2 + §8): the bucket equi-join used to emit
    # every candidate pair through an INTERPRETED zip_with/aggregate cosine
    # and then window-rank the full candidate set ((n_planes+1)·n·occupancy
    # rows). Instead, cogroup both sides by bucket and score each bucket as
    # one numpy int64 matmul (exact — same double(dot)/(sqrt·sqrt) IEEE ops
    # as the JVM expression), emitting only each probe row's per-bucket
    # top-k by (cosine desc, dst asc). Global top-k over per-bucket top-ks
    # is exactly the top-k over all candidates (the order is total — dst
    # unique per src within a bucket, and a (src, dst) pair meets in
    # exactly one bucket: the dst's home bucket), so the final window sees
    # (n_planes+1)·k rows per vector instead of the full candidate volume.
    # Skew note: one hot bucket = one cogroup task; that is what
    # ``max_bucket`` (and raising n_planes ∝ log2 n) bounds at scale.
    part_schema = StructType(
        [
            StructField("src", q.schema["vec_id"].dataType),
            StructField("dst", q.schema["vec_id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    # toDF re-aliases every column (fresh expression ids) so the cogroup's
    # two branches — both derived from the same quantized frame — don't
    # trip the ambiguous-self-join analyzer check
    right = right.select("vec_id", "qv", "bucket").toDF("vec_id", "qv", "bucket")
    scored = (
        left.groupBy("bucket")
        .cogroup(right.groupBy("bucket"))
        .applyInPandas(_bucket_topk_fn(k), part_schema)
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst").asc())
    edges = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if mutual:
        rev = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        edges = edges.join(rev, ["src", "dst"], "left_semi")
    return edges
