"""Deduplication operators for large-scale document corpora.

Beyond the reference's accidental set-dedup (SURVEY.md §2 Table B
"Distinct/dedup"), these are the training-data-pipeline dedup family, each
built shuffle-consciously:

- **exact**: one hash-aggregate on md5(text) — one shuffle, map-side
  partial agg.
- **minhash LSH**: signatures and band keys are computed per-row with
  JVM-side higher-order functions (zero shuffle); the only shuffles are the
  explode-band self-join (equi-join on (band, key) — hash join, broadcast
  when the corpus is small) and the final distinct. At 100 TB the band join
  is the standard near-dup-at-scale pattern (band key is effectively a
  random partitioner, so no skew hot-spots beyond true dup clusters).
- **simhash**: per-row 60-bit fingerprint (zero shuffle); near-dup
  candidates via band join on 4 x 15-bit fingerprint slices.
- **ngram-jaccard**: exact verification on LSH candidates only — never the
  O(n²) cross join.
- **embedding near-dup**: cosine over quantized int vectors on LSH-band or
  sign-sketch buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_sliding_window_spark.functions import columns as C
from real_time_sliding_window_spark.util import ensure_parallelism


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: canonical (min) id + duplicate count."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dupes"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document minhash signature (array of md5-hex minima)."""
    return (
        df.withColumn("__sh", C.word_shingles(text_col, shingle_k))
        .select(F.col(id_col), C.minhash_signature("__sh", n_hashes).alias("signature"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding for candidates, exact shingle
    Jaccard for verification. Output: (doc_a, doc_b, inter, union, jaccard).
    """
    rows_per_band = n_hashes // bands
    # Stage the computation so every expensive expression evaluates exactly
    # once (higher-order lambdas are interpreted and CollapseProject inlines
    # multiply-referenced columns — see functions/columns.py docstrings):
    #   scan → split(text) → [exchange: parallelism + words materialized]
    #   → distinct shingles → 28-bit md5 hash per shingle
    #   → [exchange: hash array materialized before the 12-way fan-out]
    #   → integer minhash permutations → band keys → explode → self-join.
    words = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("__w"),
        )
    )
    shd = words.select(
        "doc_id",
        F.array_distinct(C.shingles_from_words("__w", shingle_k)).alias("__shd"),
    )
    # materialization barrier (r6 — the ngram_jaccard_pairs lesson applied
    # here): shd is referenced THREE ways (the minhash band path, the
    # verify-join explode, the size table), and the interpreted shingle
    # transform would otherwise run once per un-reused reference.
    shd = shd.localCheckpoint(eager=True)
    par = df.sparkSession.sparkContext.defaultParallelism
    # explicit partition count: a bare repartition(col) is AQE-coalescible
    # right back to one partition at this data size, re-serializing the
    # expensive column computation the barrier exists to spread out
    hashed = shd.select("doc_id", C.hash_shingles28("__shd").alias("__h")).repartition(
        par, "doc_id"
    )
    banded = hashed.select(
        "doc_id",
        F.posexplode(
            C.int_minhash_band_keys("__h", n_hashes, bands, rows_per_band)
        ).alias("band_idx", "band_key"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact verification, count-based: intersection = shared DISTINCT
    # shingles counted on the inverted index restricted to candidate pairs.
    # This replaces a per-pair O(|A|·|B|) array scan with two equi-joins and
    # a count — the per-pair cost is O(|A∩B|), and the joins are hash joins
    # on doc ids (candidate side is small, so Catalyst broadcasts it).
    distinct_sh = shd.select("doc_id", F.explode("__shd").alias("shingle"))
    sizes = shd.select("doc_id", F.size("__shd").cast("long").alias("sz"))
    ex_a = distinct_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle")
    )
    ex_b = distinct_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle")
    )
    inter_counts = (
        cand.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter_counts.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"),
            "doc_b",
        )
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return out.select(
        "doc_a",
        "doc_b",
        F.col("inter"),
        union.alias("union_sz"),
        (F.col("inter").cast("double") / union.cast("double")).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = 128,
    weight_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via an inverted index.

    Unlike minhash_lsh_pairs (probabilistic candidates), this is the exact
    variant: explode DISTINCT word k-grams into an inverted index, self-join
    on the shingle (equi-join — candidate pairs are exactly the pairs sharing
    ≥1 shingle), count shared shingles per pair, then
    ``jaccard = inter / (|A| + |B| − inter)``. Only pairs with at least one
    common shingle ever materialize, so there is no O(n²) cross join.

    ``max_df`` is the scale guard (VERDICT r01 #1): a shingle appearing in d
    documents generates d·(d−1)/2 candidate rows in the self-join — one
    stopword 3-gram in 10^6 docs is ~5·10^11 pairs. Candidate generation
    therefore uses only shingles with document frequency ≤ max_df; the
    Jaccard verification of surviving candidates still counts ALL shared
    shingles (two equi-joins on the full index restricted to candidates —
    same verify shape as minhash_lsh_pairs), so reported (inter, union,
    jaccard) stay exact. Semantics under the cap: a pair is reported iff it
    shares at least one sub-threshold shingle — pairs similar ONLY through
    boilerplate everyone shares are (deliberately) not near-duplicates.
    The DuckDB oracle implements the identical cap, so parity holds at any
    corpus scale. ``max_df=None`` is the cap-free exact mode (candidate
    join IS the verify join — one shuffle fewer; small corpora only).

    ``weight_col`` (optional, integer column on ``df``): document-frequency
    counting weights each document by this column instead of 1. Used by
    :func:`full_dedup`, which runs pair generation over canonical (distinct)
    texts but must classify shingles rare/hot by their RAW-corpus frequency —
    each canonical weighs as its exact-duplicate multiplicity. Only the df
    cap uses the weight; (inter, union, jaccard) are per-pair set measures
    and unaffected.
    """
    w8 = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    words = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("__w"),
            w8.alias("__w8"),
        )
    )
    base = words.select(
        "doc_id",
        F.array_distinct(C.shingles_from_words("__w", shingle_k)).alias("__sh"),
        "__w8",
    )
    # materialization barrier: the capped path references the shingle table
    # five ways (sizes, df counts, two candidate sides, two verify sides).
    # A repartition exchange is NOT enough — column pruning specializes the
    # exchange child per consumer, defeating ReusedExchange — so the
    # expensive interpreted transform() pass would run once per reference
    # (measured 5x at sf0.1). localCheckpoint materializes it exactly once
    # (same pattern as connected_components); at production scale,
    # checkpoint to reliable storage or persist(DISK_ONLY) instead. Eager:
    # a lazy checkpoint lets the first action's concurrent consumers race
    # the cache and recompute (measured 23.6s cold vs 8.8s warm at sf0.1).
    base = base.localCheckpoint(eager=True)
    index = base.select("doc_id", F.explode("__sh").alias("shingle"), "__w8")
    sizes = base.select("doc_id", F.size("__sh").cast("long").alias("sz"))
    if max_df is None:
        inter = (
            index.alias("a")
            .join(
                index.alias("b"),
                on=[
                    F.col("a.shingle") == F.col("b.shingle"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # Split the index by document frequency: the self-join runs ONLY on
        # sub-threshold (rare) shingles — per-key fan-out bounded by max_df —
        # and directly counts each pair's shared RARE shingles (one shuffle
        # + partial agg, same shape as the cap-free join). The shared HOT
        # shingles are added per pair via per-doc hot-shingle SETS and
        # array_intersect: hot shingles are few DISTINCT values by
        # definition, so each doc's set is a small array and the add-on is
        # two doc-id equi-joins + a per-row expression — no hot-key
        # explosion anywhere in the plan.
        # NOT checkpointed (r6, measured): rare/hot both consume the df
        # aggregate, but its exchange is plan-identical under both and
        # ReusedExchange shares it within the one action — an eager
        # barrier here just serializes the pipeline (all-barrier variant
        # measured 24-25 s vs 19.6 s with the ridx barrier alone at sf1).
        dfs = index.groupBy("shingle").agg(F.sum("__w8").alias("__df"))
        rare = dfs.filter(F.col("__df") <= max_df).select("shingle")
        hot = dfs.filter(F.col("__df") > max_df).select("shingle")
        # r6: carry each doc's shingle-set size on the rare index rows so
        # the self-join can apply the EXACT length prefilter in its join
        # condition: jaccard ≤ min(szA,szB)/max(szA,szB), so a pair with
        # least < floor(min_jaccard·greatest) can never reach the final
        # threshold (floor makes the test conservative — it only ever keeps
        # extra rows). This drops candidate rows BEFORE the pair-count
        # aggregate — the single biggest flow in the whole dedup family
        # (measured 114M → 86M candidate pairs at sf1, and the stage runs
        # as a shuffled-hash join under the session's
        # preferSortMergeJoin=false: 35s → 11s for join+aggregate).
        # sz rides the explode from the checkpointed base (computed once
        # per doc BEFORE the explode) instead of a doc_id join-back
        idx_sz = base.select(
            "doc_id",
            F.size("__sh").cast("long").alias("__sz"),
            F.explode("__sh").alias("shingle"),
        )
        ridx = (
            idx_sz.join(rare, "shingle")
            .select("doc_id", "shingle", "__sz")
            .localCheckpoint(eager=True)
        )
        # hot_sets is consumed three ways (the stats table and both
        # survivor joins) but stays LAZY: the survivor joins touch only
        # thousands of rows and ReusedExchange shares the aggregate;
        # an eager barrier here measured net-slower (see dfs note above).
        hot_sets = (
            index.join(hot, "shingle")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("__hsh"))
        )
        inter_rare = (
            ridx.alias("a")
            .hint("shuffle_hash")
            .join(
                ridx.alias("b"),
                on=[
                    F.col("a.shingle") == F.col("b.shingle"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                    F.least(F.col("a.__sz"), F.col("b.__sz"))
                    >= F.floor(
                        F.lit(min_jaccard)
                        * F.greatest(F.col("a.__sz"), F.col("b.__sz"))
                    ),
                ],
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("__inter_rare"))
        )
        # r6 tail restructure: the candidate-pair table is tens of millions
        # of rows while the reported pairs are thousands — so the per-pair
        # ARRAY work (hot-set array_intersect) must not run on every
        # candidate. Join the doc-count-sized (sz, n_hot) stats table onto
        # the pair counts and drop every pair whose BEST-CASE jaccard
        #   inter_max = __inter_rare + least(n_hot_a, n_hot_b)
        #   union_min = sz_a + sz_b − inter_max
        # already fails the threshold. Exact: |H_A∩H_B| ≤ min(|H_A|,|H_B|)
        # gives inter ≤ inter_max and union ≥ union_min, double division is
        # monotone, so fl(inter/union) ≤ fl(inter_max/union_min) < t ⇒ the
        # final filter would drop the pair anyway. Survivors (only) then
        # pay the two hot-set joins + array_intersect, and the sizes ride
        # along instead of two more corpus joins.
        stats = sizes.join(
            hot_sets.select(
                "doc_id", F.size("__hsh").cast("long").alias("__nh")
            ),
            "doc_id",
            "left",
        ).select("doc_id", "sz", F.coalesce("__nh", F.lit(0).cast("long")).alias("__nh"))
        pair_stats = (
            inter_rare.join(
                F.broadcast(
                    stats.select(
                        F.col("doc_id").alias("doc_a"),
                        F.col("sz").alias("sz_a"),
                        F.col("__nh").alias("__nh_a"),
                    )
                ),
                "doc_a",
            )
            .join(
                F.broadcast(
                    stats.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("sz").alias("sz_b"),
                        F.col("__nh").alias("__nh_b"),
                    )
                ),
                "doc_b",
            )
            .withColumn(
                "__imax",
                F.col("__inter_rare") + F.least("__nh_a", "__nh_b"),
            )
            .filter(
                F.col("__imax").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("__imax")).cast("double")
                >= F.lit(min_jaccard)
            )
        )
        empty = F.array().cast("array<string>")
        survivors = (
            pair_stats.join(
                hot_sets.select(
                    F.col("doc_id").alias("doc_a"), F.col("__hsh").alias("__h_a")
                ),
                "doc_a",
                "left",
            )
            .join(
                hot_sets.select(
                    F.col("doc_id").alias("doc_b"), F.col("__hsh").alias("__h_b")
                ),
                "doc_b",
                "left",
            )
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("__inter_rare")
                    + F.size(
                        F.array_intersect(
                            F.coalesce("__h_a", empty), F.coalesce("__h_b", empty)
                        )
                    ).cast("long")
                ).alias("inter"),
                "sz_a",
                "sz_b",
            )
        )
        union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
        return survivors.select(
            "doc_a",
            "doc_b",
            F.col("inter"),
            union.alias("union_sz"),
            (F.col("inter").cast("double") / union.cast("double")).alias("jaccard"),
        ).filter(F.col("jaccard") >= min_jaccard)
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        out.select(
            "doc_a",
            "doc_b",
            F.col("inter"),
            union.alias("union_sz"),
            (F.col("inter").cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _driver_components(e2: DataFrame, id_col: str) -> DataFrame:
    """Union-find over a (bounded, already-materialized) edge frame —
    the small-graph fast path of ``connected_components``. Returns the
    (id, cluster_id) frame for edge-incident vertices only, labels = min
    vertex id per component (identical to the propagation loop's)."""
    from pyspark.sql.types import StructField, StructType

    rows = e2.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[rb] = ra
    members: dict = {}
    for r in rows:
        for v in (r[0], r[1]):
            members.setdefault(find(v), set()).add(v)
    labels = []
    for vs in members.values():
        m = min(vs)
        labels.extend((v, m) for v in vs)
    idt = e2.schema["src"].dataType
    schema = StructType(
        [StructField(id_col, idt), StructField("cluster_id", idt)]
    )
    return e2.sparkSession.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Min-label-propagation connected components over an edge list.

    The standard large-scale CC: every vertex starts labeled with itself;
    each round, every vertex takes the min of its own and its neighbors'
    labels; converge when no label changes. Rounds needed ≈ graph diameter
    (near-dup clusters are shallow), each round = one join + one
    min-aggregate — all distributed, the driver only checks the converged
    count. ``localCheckpoint`` truncates lineage per round so the plan
    doesn't grow exponentially (at production scale, checkpoint to reliable
    storage instead).

    ``driver_max_edges`` (r6): near-dup edge lists are usually TINY
    relative to the corpus (thousands of pairs for tens of thousands of
    docs), and each distributed round costs several scheduler round-trips
    — pure overhead on a 3-row graph. When the materialized edge count is
    within this bound, the component labels are computed with a
    driver-side union-find over the collected edges instead (bounded
    driver footprint, the same class as guide §8's "broadcast the plan":
    200k edges ≈ a few MB; identical labels — min vertex per component,
    and Python's string ordering equals Spark's UTF-8 binary ordering).
    Set it to 0 to force the distributed loop; raise it when the driver
    has headroom. The iterative path is unchanged and takes over beyond
    the bound, so 100 TB-scale edge lists never touch the driver.

    Output: (id_col, cluster_id) — cluster_id = min vertex id in the
    component; deterministic, so DuckDB's recursive-CTE transitive closure
    is an exact oracle.
    """
    # Materialize the caller's edge pipeline ONCE (r6, guide §2.4): the
    # symmetrized union references `edges` twice, so an un-materialized
    # expensive edge subquery (the df-capped ngram-Jaccard pair pipeline
    # in neardup_clusters) would run twice just to build `sym`.
    e2 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    if e2.count() <= driver_max_edges:
        comp = _driver_components(e2, id_col)
        return (
            vertices.select(id_col)
            .join(comp, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("cluster_id"), F.col(id_col)).alias(
                    "cluster_id"
                ),
            )
        )
    sym = e2.union(e2.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Only edge-incident vertices can ever change label — iterate over that
    # (typically tiny) subgraph and attach the untouched rest as singleton
    # components in one final join. At near-dup workloads the touched set is
    # a small fraction of the corpus, so every loop job shrinks accordingly.
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        msgs = sym.join(labels, sym["src"] == labels["v"]).select(
            F.col("dst").alias("v"), F.col("label")
        )
        # One aggregation computes BOTH the new label and the old one (r6):
        # tagging the self-message lets min(label) and the convergence
        # probe share a single shuffle + checkpoint, replacing the per-round
        # new⋈old join-and-count with a scan of the materialized frame.
        new = (
            labels.select("v", "label", F.lit(True).alias("__self"))
            .union(msgs.select("v", "label", F.lit(False).alias("__self")))
            .groupBy("v")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__self"), F.col("label"))).alias("__prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("label") != F.col("__prev")).count()
        labels = new.select("v", "label")
        if changed == 0:
            break
    else:
        # Exhausting max_iter means some component's diameter exceeds the
        # round budget — partial labels are WRONG cluster ids; fail loudly
        # rather than hand a silently mislabeled corpus downstream.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    comp = labels.select(F.col("v").alias(id_col), F.col("label").alias("cluster_id"))
    return (
        vertices.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = 128,
    weight_col: str | None = None,
) -> DataFrame:
    """Near-duplicate cluster resolution: exact n-gram Jaccard pairs →
    connected components → (doc_id, cluster_id, cluster_size). The
    canonical representative of each cluster is its cluster_id (min doc);
    a training pipeline keeps `doc_id == cluster_id` rows. Pair generation
    runs with the df-capped candidate path (see ngram_jaccard_pairs) so the
    flagship dedup query is bounded on stopword-heavy corpora."""
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, shingle_k, min_jaccard, max_df, weight_col
    )
    comp = connected_components(
        pairs.select("doc_a", "doc_b"), df.select(id_col), id_col
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(id_col, "cluster_id", "cluster_size")


def keep_best_per_cluster(
    df: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    **cluster_kw,
) -> DataFrame:
    """Near-dup resolution keeping the HIGHEST-QUALITY member (r4).

    ``neardup_clusters``/``full_dedup`` keep the min-id representative —
    fine for counting, but a production pipeline keeps the BEST copy of
    each near-dup family (the cleanest extraction, the longest span,
    the highest quality score). Given a per-doc ``scores`` frame, mark
    per cluster the member with the highest ``score_col`` (ties to the
    lower id — fully deterministic). Output: (id, cluster_id,
    cluster_size, score, keep) — one ``keep=true`` row per cluster;
    training keeps those rows.

    Plan: the cluster computation is the existing df-capped pipeline;
    the argmax is one row_number window PARTITIONED by cluster_id (no
    global window), partial-agg-friendly and skew-bounded by the
    largest cluster. ``cluster_kw`` forwards to ``neardup_clusters``
    (shingle_k / min_jaccard / max_df / weight_col).

    Docs missing from ``scores`` are KEPT with a null score (advice r4:
    an inner join silently dropped them while cluster_size still counted
    them, and an all-unscored cluster vanished with no keep row). Null
    scores lose the desc ordering (desc = nulls LAST in Spark), so an
    unscored member never beats a scored one; an all-unscored cluster
    falls back to the min-id rule via the id tiebreak."""
    from pyspark.sql.window import Window as SqlWindow

    comp = neardup_clusters(df, id_col=id_col, **cluster_kw)
    w = SqlWindow.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        comp.join(scores.select(id_col, score_col), id_col, "left")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "cluster_id", "cluster_size", score_col, "keep")
    )


def full_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = 128,
) -> DataFrame:
    """The composed training-data dedup pipeline: exact dedup FIRST, then
    near-dup clustering over canonical texts only, then expansion back to
    every document. Output schema = neardup_clusters (doc_id, cluster_id,
    cluster_size).

    Semantics vs the raw path: shingle document frequencies for the max_df
    cap are computed over the RAW corpus (each canonical text weighs as its
    exact-duplicate multiplicity — ``weight_col="n_dupes"`` into
    ngram_jaccard_pairs), so rare/hot classification matches
    neardup_clusters(raw) exactly. The clusters therefore equal connected
    components over {raw near-dup pairs} ∪ {doc → its exact-dup canonical}
    (the driver oracle implements exactly that edge set). The ONE divergence
    from plain neardup_clusters(raw) is deliberate and strictly better: an
    exact-dup group whose multiplicity alone pushes every one of its
    shingles over max_df still clusters together here (exact duplicates are
    always duplicates), whereas the raw path would shatter it into
    singletons because the copies share no sub-cap shingle.

    Why this shape at 100 TB: web corpora are exact-dup heavy (mirrors,
    reposts); collapsing them with one cheap hash-aggregate BEFORE the
    near-dup stage shrinks the quadratic-ish candidate generation by the
    duplication factor while the df weighting keeps boilerplate detection
    faithful to the corpus the user actually has.
    """
    groups = exact_dedup(df, id_col, text_col).localCheckpoint(eager=True)
    canon_w = groups.select(
        F.col("canonical_id").alias(id_col), F.col("n_dupes")
    )
    canon_docs = df.join(canon_w, id_col)
    canon_clusters = neardup_clusters(
        canon_docs, id_col, text_col, shingle_k, min_jaccard, max_df,
        weight_col="n_dupes",
    ).select(F.col(id_col).alias("canonical_id"), "cluster_id")
    # expand: every doc inherits its canonical's cluster; cluster_size
    # counts ALL member docs (exact dups included). cluster_id stays the
    # min doc id of the whole cluster because each canonical is already
    # the min of its exact-dup group.
    membership = (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .join(groups.select("text_hash", "canonical_id"), "text_hash")
        .select(id_col, "canonical_id")
    )
    expanded = membership.join(canon_clusters, "canonical_id").select(
        id_col, "cluster_id"
    )
    sizes = expanded.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return expanded.join(sizes, "cluster_id").select(
        id_col, "cluster_id", "cluster_size"
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document 60-bit simhash fingerprint + token count.

    r6 plan shape (guide §4.1 — keep the hot path in whole-stage codegen):
    explode the token array and run ONE codegen hash aggregate with 60
    bit-count sums + a hash count, instead of 60 interpreted ``aggregate``
    lambdas over a per-doc hash array (higher-order functions are
    interpreted per element; this pass dominated the streaming guard's
    per-batch cost). The md5 runs as a codegen projection per token row.
    Values are identical: bit j is set iff Σ±1 > 0 ⟺ 2·Σbit_j > n_hashes —
    exact integer tests, same on both engines. Map-side partial aggregation
    bounds the shuffle at one 61-long row per document per task. Assumes
    ``id_col`` is unique per input row (every caller's ingest contract);
    duplicate ids would collapse into one fingerprint row instead of
    repeating per row."""
    toks = ensure_parallelism(df).select(
        F.col(id_col), C.tokens(text_col).alias("__tok")
    )
    rows = toks.select(
        F.col(id_col),
        F.size("__tok").cast("long").alias("n_tokens"),
        F.explode_outer("__tok").alias("__t"),
    ).select(
        F.col(id_col),
        "n_tokens",
        F.expr(
            "cast(conv(substr(md5(__t), 1, 15), 16, 10) as long)"
        ).alias("__h"),
    )
    # Two 31-bit count lanes per aggregate (bits j and j+30 share one
    # int64 accumulator at offsets 0 and 32): halves the aggregate count
    # (60 → 30) and with it the whole-stage-codegen size — the 61-buffer
    # variant paid ~2.5 s of first-execution compile. Lane safety is by
    # construction: per-doc bit counts are ≤ n_tokens < 2^31 (a string
    # column caps at 2 GB, far under 2^31 single-char tokens), so the low
    # lane never carries into bit 32 and the high lane never reaches the
    # sign bit.
    half = C.SIMHASH_BITS // 2  # 30
    aggs = [
        F.expr(
            f"sum((shiftright(__h, {j}) & 1)"
            f" + shiftleft(shiftright(__h, {j + half}) & 1, 32))"
        ).alias(f"__b{j}")
        for j in range(half)
    ] + [F.count("__h").alias("__cnt")]
    grouped = rows.groupBy(F.col(id_col), F.col("n_tokens")).agg(*aggs)
    lane_mask = (1 << 32) - 1
    simhash = F.lit(0).cast("long")
    for j in range(half):
        lo = F.col(f"__b{j}").bitwiseAND(F.lit(lane_mask))
        hi = F.shiftright(F.col(f"__b{j}"), 32)
        simhash = simhash + F.when(
            lo * 2 > F.col("__cnt"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = simhash + F.when(
            hi * 2 > F.col("__cnt"),
            F.lit(1 << (j + half)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    return grouped.select(
        F.col(id_col), simhash.alias("simhash"), "n_tokens"
    )


def cool_buckets(
    bands: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """Bucket keys whose occupancy is within ``max_bucket`` — THE
    occupancy-cap primitive, kept in one audited place (review r4: four
    hand-rolled copies had started to drift on which side gets capped).
    Join candidates against this to bound LSH self-join volume; never
    filter an operator's id universe with it (capping is about skipping
    CANDIDATE PAIRS in hot buckets, not about dropping rows)."""
    return (
        bands.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") <= max_bucket)
        .select(*key_cols)
    )


def simhash_bands(fp: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band rows (doc_id, simhash, band_idx, band_val) from a fingerprint
    frame (id, simhash): 4 × 15-bit slices — the LSH key shape of
    ``simhash_neardup_pairs``."""
    bb, mask = C.SIMHASH_BAND_BITS, C.SIMHASH_BAND_MASK
    return fp.select(
        F.col(id_col).alias("doc_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.expr(
                            f"(shiftright(simhash, {bb * b}) & {mask}L)"
                        ).alias("band_val"),
                    )
                    for b in range(C.SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Candidate pairs whose 60-bit simhash differs by <= max_hamming bits.

    Banding on 4 x 15-bit fingerprint slices (pigeonhole: hamming <= 3 ⇒ at
    least one band equal) keeps this an equi-join rather than a cross join.
    Scale shape (VERDICT r01 #2): the old byte-banding over 32 bits had
    4 x 256 = 1,024 possible join keys — each band bucket held n/256 docs
    and the self-join degenerated to O(n²/256). 15-bit bands give 32,768
    keys per band (128x), measured 115x fewer candidates on a diverse
    corpus (BENCH/SIMHASH.md).

    ``max_bucket`` bounds the residual hazard: simhash bits are CORRELATED
    on topically homogeneous text (common tokens dominate the bit sums), so
    band buckets are Zipf-skewed — the hottest bucket can hold a few % of
    the corpus and its self-join term is quadratic. Dropping band buckets
    with occupancy > max_bucket from candidate generation caps the total
    volume at bands·n·max_bucket/2 — LINEAR in corpus size. Recall: a
    hamming<=3 pair is missed only if EVERY band that matches it is hot —
    docs in a hot bucket agree on a popular 15-bit pattern, and almost all
    such pairs fail the hamming filter anyway (measured survivor rates in
    BENCH/SIMHASH.md). Mirrored in the DuckDB oracle; None = exact
    pigeonhole recall. max_hamming > SIMHASH_BANDS - 1 likewise keeps the
    equi-join recall guarantee only probabilistically (identical banding on
    both engines keeps oracle parity regardless).
    """
    # barrier: the 4 band expressions each reference `simhash`; without
    # materialization the whole 60-aggregate fingerprint is recomputed per band
    fp = (
        simhash_fingerprints(df, id_col, text_col)
        .select(id_col, "simhash")
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    )
    bands = simhash_bands(fp, id_col)
    if max_bucket is not None:
        bands = bands.join(
            cool_buckets(bands, ["band_idx", "band_val"], max_bucket),
            ["band_idx", "band_val"],
        )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_planes: int = 8,
    multiprobe: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: sign-sketch LSH buckets + exact (quantized)
    cosine verification. The sketch is the sign pattern against n_planes
    pseudo-random hyperplanes derived from dimension parity — per-row math,
    zero shuffle until the bucket join.

    ``multiprobe`` raises recall the same way as similarity.ivf_topk: side A
    additionally probes the n_planes buckets at hamming distance 1, so a
    true near-dup pair split by ONE disagreeing sketch bit still meets
    (probe cost: side A is exploded (n_planes+1)x; side B keeps one bucket
    key, so the join stays an equi-join). vec_a < vec_b plus distinct probe
    values keep the output duplicate-free. Measured recall: BENCH/ANN.md.

    ``max_bucket`` (r4, found by the 10× sf1 sweep — BENCH/SCALE10X.md):
    with FIXED n_planes the 2^n_planes bucket count does not grow with
    the corpus, so per-bucket occupancy grows linearly and the self-join
    candidate volume QUADRATICALLY — measured 12× wall at 10× rows with
    zero output pairs. Same doctrine as simhash_neardup_pairs: drop
    buckets with occupancy > max_bucket from candidate generation,
    bounding volume at (n_planes+1)·n·max_bucket — linear. Recall
    boundary, stated precisely: a pair meets through the LARGER id's
    HOME bucket (the B side of the probe join), so a pair is skipped iff
    that home bucket is hot — hot buckets are where near-dup recall is
    lowest anyway (BENCH/SIMHASH.md survivor analysis). The scale
    alternative is
    raising n_planes with log2(n) (buckets ∝ n, occupancy constant) at
    the cost of per-bucket recall; the cap composes with either. None
    keeps the uncapped oracle-exact semantics.
    """
    q = emb.select(F.col(id_col).alias("vec_id"), C.quantize(vec_col).alias("qv"))
    bucketed = q.withColumn("bucket", C.sign_sketch("qv", n_planes))
    right = bucketed
    if max_bucket is not None:
        # cap the JOIN-TARGET side only (the simhash band analogue: a
        # hot-bucket vector still probes OUT via its A-side keys, it just
        # stops being a fan-out target) — A-side rows × max_bucket bounds
        # the candidate volume linearly
        right = bucketed.join(
            cool_buckets(bucketed, ["bucket"], max_bucket), "bucket"
        )
    left = bucketed
    if multiprobe:
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        left = bucketed.select(
            "vec_id", "qv", F.explode(F.array(*probes)).alias("bucket")
        )
    pairs = (
        left.alias("a")
        .join(
            right.alias("b"),
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.qv").alias("qa"),
            F.col("b.qv").alias("qb"),
        )
    )
    cos = C.int_dot("qa", "qb").cast("double") / (C.int_norm("qa") * C.int_norm("qb"))
    return pairs.select(
        "vec_a", "vec_b", cos.alias("cosine")
    ).filter(F.col("cosine") >= min_cosine)
