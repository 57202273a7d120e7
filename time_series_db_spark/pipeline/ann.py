"""Approximate nearest-neighbor search over an embedding column.

Two tiers (SURVEY-mandated pipeline ops):

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set against the corpus, rank per query. The corpus side never
  shuffles; the only exchange is the per-query top-k (TakeOrdered-style
  partial limits under AQE). This is the recall baseline.
- :func:`lsh_bucketed_topk` — the scale path: a deterministic random-
  hyperplane LSH bucketer assigns every vector an 8-bit bucket scan-side;
  candidates are restricted to the query's bucket, so the join fans out
  per bucket instead of per corpus. Recall < 1 by design; the bucket
  count is the knob.

Hyperplane determinism: embeddings are quantized to integers
(floor(x·1000+0.5)) and the hyperplane weights are small integers derived
from (plane, dim) — the sign computation is exact integer arithmetic, so
Spark and the DuckDB oracle can never disagree on a bucket (no FP-sign
edge cases).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_db_spark.cache import within_bound
from time_series_db_spark.literals import lit_array, literal_frame
from time_series_db_spark.pipeline.dedup import cosine_expr

NUM_PLANES = 8


def _plane_weight(plane: int, dim_col: Column) -> Column:
    """Integer hyperplane weight w(plane, dim) = ((97·plane + 13·dim) % 19) − 9."""
    return (F.lit(97 * plane) + F.lit(13) * dim_col) % 19 - 9


def hyperplane_bucket(
    vec_col: Column, num_planes: int = NUM_PLANES, start_plane: int = 0
) -> Column:
    """LSH bucket id from integer-quantized hyperplane signs.

    ``start_plane`` offsets into the deterministic plane family so banded
    schemes (B bands × r planes) can draw disjoint plane sets."""
    q = F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long")
    )
    def _weighted(plane: int):
        # binary (element, index) transform lambda — plane captured by closure
        return F.transform(q, lambda x, i: x * _plane_weight(plane, i))

    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        dot = F.aggregate(
            _weighted(start_plane + p), F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (self-matches excluded).

    Output: (query_id, neighbor_id, rank, cosine); ties broken by
    neighbor id for determinism. The query side is broadcast — the
    corpus scan is embarrassingly parallel.
    """
    # The per-pair cosine is interpreted (Catalyst higher-order folds),
    # so parallelism across the corpus is what bounds wall time — but a
    # BroadcastNestedLoopJoin inherits the scan's partitioning, and a
    # compact parquet corpus arrives as 1-2 splits, serializing the
    # scoring AND the partial WindowGroupLimit behind it on one core.
    # Spread the corpus over the cluster first (tiny shuffle of raw
    # vectors; at real scale the scan has many splits and this is a
    # cheap no-op rebalance).
    spark = corpus.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    ).repartition(n_parts)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        )
    )
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Top-k within the query's LSH bucket — the bounded-candidate path.

    Same output shape as :func:`cosine_topk`; queries whose bucket holds
    fewer than k other vectors return fewer rows (recall trade-off).
    """
    # spread the interpreted per-candidate cosine across cores (see
    # cosine_topk: a compact corpus arrives as 1-2 splits otherwise)
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
        hyperplane_bucket(F.col(vec_col), num_planes).alias("__bucket"),
    ).repartition(n_parts)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("__qv"),
            hyperplane_bucket(F.col(vec_col), num_planes).alias("__qbucket"),
        )
    )
    scored = (
        c.join(
            q,
            (F.col("__bucket") == F.col("__qbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    The centroid table is broadcast (nlist rows — bytes, not gigabytes),
    so assignment is a map-side cross join: corpus never shuffles beyond
    an initial rebalance across cores (the interpreted per-(vector,
    centroid) cosine otherwise serializes on a compact scan's 1-2
    splits). Output: (id, __v, *carry_cols, __cell, __probe_rank) —
    ``carry_cols`` ride along untouched (e.g. a label column for
    :func:`hard_negatives_ivf`).
    """
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    scored = vectors.repartition(n_parts).crossJoin(F.broadcast(centroids)).select(
        id_col,
        "__v",
        *carry_cols,
        F.col("__cid").alias("__cell"),
        cosine_expr(F.col("__v"), F.col("__centroid")).alias("__ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__ccos").desc(), F.col("__cell"))
    return (
        scored.withColumn("__probe_rank", F.row_number().over(w))
        .filter(F.col("__probe_rank") <= nprobe)
        .select(id_col, "__v", *carry_cols, "__cell", "__probe_rank")
    )


#: centroid count above which the auto-knob paths switch to two-level
#: assignment: at nlist=256 the flat scan is 256 distance evals/vector
#: vs ~80 hierarchical (16 supers + 4 probes x ~16) — below that the
#: routing overhead isn't worth the exactness loss
HIER_ASSIGN_MIN_NLIST = 256


def ivf_assign_hier(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
    super_probe: int = 4,
    n_cents: int | None = None,
) -> DataFrame:
    """Two-level (hierarchical) coarse assignment — the scale path of
    :func:`ivf_assign` for LARGE centroid tables (the FAISS IMI /
    two-level-quantizer discipline).

    A corpus-scaled cell count (``nlist="auto"`` ∝ N, the r13
    occupancy-knob regime) makes FLAT assignment the next quadratic
    term: N × nlist = N²/target distance evals — at 200k vectors the
    Lloyd pass already costs 78M evals/iter, overtaking the 51M-pair
    within-cell join it enables.  Here the CENTROIDS are first
    clustered into ⌈√nlist⌉ super-cells (deterministic mini-Lloyd over
    the nlist-row centroid table — metadata-sized); each vector routes
    to its ``super_probe`` nearest super-centroids map-side, then ranks
    only those super-cells' centroids: ~√nlist·(1 + super_probe) evals
    per vector instead of nlist — N^1.5-total under nlist ∝ N, the
    same exponent FAISS accepts for its coarse level.

    Approximate by design: a vector whose true nearest centroid lives
    in an unrouted super-cell lands in its best ROUTED cell instead —
    acceptable for the clustering-as-partition users (SemDeDup cells,
    celled mining), where the partition is a heuristic to begin with;
    exact-argmax users (the differential-oracle kmeans entries) keep
    flat assignment.  ``super_probe >= ⌈√nlist⌉`` degenerates to exact
    assignment (every super-cell routed — the equivalence test).
    Deterministic end-to-end: min-id init, ties on cell id.

    Output contract matches :func:`ivf_assign`:
    (id, __v, *carry_cols, __cell, __probe_rank).
    """
    if n_cents is None:
        # NOTE: counting a derived centroid table (a Lloyd chain) costs
        # a full evaluation — callers that know nlist should pass it
        n_cents = centroids.count()
    n_super = max(2, math.isqrt(max(n_cents - 1, 1)) + 1)
    cent_vecs = centroids.select(
        F.col("__cid").alias("vec_id"), F.col("__centroid").alias("__v")
    )
    # mini-Lloyd over the centroid table (nlist rows — cheap at any N),
    # then pin each centroid to its ONE super-cell
    super_cents = kmeans_centroids(cent_vecs, nlist=n_super, iters=1)
    cent_super = (
        ivf_assign(cent_vecs, super_cents, nprobe=1)
        .select(
            F.col("vec_id").alias("__cid"),
            F.col("__v").alias("__centroid"),
            F.col("__cell").alias("__super"),
        )
    )
    routed = ivf_assign(
        vectors, super_cents, nprobe=min(int(super_probe), n_super),
        id_col=id_col, carry_cols=carry_cols,
    ).select(
        id_col, "__v", *carry_cols, F.col("__cell").alias("__super")
    )
    scored = routed.join(F.broadcast(cent_super), "__super").select(
        id_col,
        "__v",
        *carry_cols,
        F.col("__cid").alias("__cell"),
        cosine_expr(F.col("__v"), F.col("__centroid")).alias("__ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__ccos").desc(), F.col("__cell")
    )
    return (
        # a centroid is reachable via exactly ONE super-cell, so no
        # dedup is needed before the rank
        scored.withColumn("__probe_rank", F.row_number().over(w))
        .filter(F.col("__probe_rank") <= nprobe)
        .select(id_col, "__v", *carry_cols, "__cell", "__probe_rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat ANN: coarse quantizer → per-cell candidate lists → exact
    re-rank inside the probed cells.

    The coarse quantizer uses a deterministic centroid subset (the nlist
    lowest vector ids) instead of trained k-means — same index structure
    and query path as FAISS-style IVF, deterministic for the differential
    oracle; swapping in trained centroids changes recall, not the plan.

    Scale shape: corpus assignment is one broadcast join + one window rank
    partitioned by vector id (embarrassingly parallel); the candidate join
    shuffles on ``__cell`` — nlist cells of ~N/nlist vectors each, so the
    fan-in per cell is bounded and uniform (centroid skew would show up
    here; trained centroids balance it). Probing ``nprobe`` cells
    multiplies the query side only.
    """
    cents = F.broadcast(
        corpus.filter(F.col(id_col) < nlist).select(
            F.col(id_col).alias("__cid"), _as_double(F.col(vec_col)).alias("__centroid")
        )
    )
    vecs = corpus.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    cells = ivf_assign(vecs, cents, nprobe=1, id_col=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__v").alias("__cv"),
        "__cell",
    )
    qvecs = queries.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    qcells = ivf_assign(qvecs, cents, nprobe=nprobe, id_col=id_col).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__qv"), "__cell"
    )
    scored = (
        cells.join(
            qcells,
            (cells["__cell"] == qcells["__cell"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
        # a neighbor can appear via several probed cells — dedup before rank
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def kmeans_centroids(
    vectors: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    hierarchical: bool = False,
) -> DataFrame:
    """Lloyd's k-means over (id, __v) vectors: deterministic init (the
    nlist lowest ids), then ``iters`` assign/update rounds.

    Distributed shape per round: assignment is a broadcast cross join +
    per-vector rank (corpus never shuffles); the update is a posexplode
    to (cell, dim, value) + hash aggregation — fully combiner-friendly.
    Means are computed with exact-decimal sums then one double divide,
    so centroids are bit-identical under any partitioning AND across
    engines (the differential oracle unrolls the same rounds in SQL).
    Empty cells keep their previous centroid.

    ``hierarchical=True`` (the corpus-scaled-nlist regime) routes each
    Lloyd assignment through :func:`ivf_assign_hier` — ~√nlist evals
    per vector instead of nlist, at the cost of approximate (still
    deterministic) cluster membership.  Oracle-backed entries keep the
    default flat assignment.
    """
    cents = vectors.filter(F.col(id_col) < nlist).select(
        F.col(id_col).cast("long").alias("__cid"),
        F.col("__v").alias("__centroid"),
    )
    if hierarchical:
        def assign(*a, **k):
            return ivf_assign_hier(*a, n_cents=int(nlist), **k)
    else:
        assign = ivf_assign
    for _ in range(int(iters)):
        assigned = assign(vectors, cents, nprobe=1, id_col=id_col)
        dim_means = (
            assigned.select("__cell", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("__cell", "__pos")
            .agg(
                (
                    F.sum(F.col("__val").cast("decimal(27,9)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("__m")
            )
        )
        new_cents = (
            dim_means.groupBy("__cell")
            .agg(F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__pm"))
            .select(
                F.col("__cell").alias("__cid"),
                F.transform("__pm", lambda s: s.getField("__m")).alias("__new"),
            )
        )
        cents = (
            cents.join(new_cents, "__cid", "left")
            .select(
                "__cid",
                F.coalesce(F.col("__new"), F.col("__centroid")).alias("__centroid"),
            )
        )
    return cents


#: target mean cell size for ``ivf_fit(nlist="auto")`` — per-query
#: scan work is nprobe × cell, so a fixed cell size keeps query cost
#: flat as the index grows (recall is then tuned with nprobe, the
#: standard IVF operating point)
IVF_TARGET_CELL = 512


def ivf_fit(
    corpus: DataFrame,
    nlist: int | str = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Fit step of the IVF fit/apply split: train the coarse quantizer
    and cell-assign the corpus ONCE, returning the two tables a real
    IVF index persists — ``{"centroids": (cell, centroid),
    "cells": (id_col, vector, cell)}`` — so every later query batch
    probes the PRE-BUILT index instead of re-training k-means and
    re-assigning the corpus per call (the ``minhash_fit`` /
    ``bpe_train`` / ``classifier_fit`` shape, closing the fit/apply
    family over the ANN tier).

    At 100 TB the ``cells`` table IS the index artifact: write it to
    parquet partitioned by ``cell`` so a query's nprobe cells prune to
    a handful of partitions at scan time; ``centroids`` is
    nlist-row metadata.  Keep ``nlist`` consistent between fit and
    apply — mismatched centroids cannot be detected at query time.

    ``nlist="auto"`` sizes the index for its corpus —
    ``max(16, ceil(n / IVF_TARGET_CELL))`` cells, so per-query scan
    work (nprobe × cell) stays flat as the corpus grows — and routes
    the fit through the two-level assignment past
    ``HIER_ASSIGN_MIN_NLIST`` (flat N × nlist training is quadratic
    under nlist ∝ N; eager ``count()`` at fit time, which a fit step
    pays anyway).
    """
    from time_series_db_spark.cache import persist_tracked

    vecs = corpus.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    if nlist == "auto":
        n = vecs.count()
        nlist = max(16, -(-n // IVF_TARGET_CELL))
    elif not isinstance(nlist, int) or int(nlist) <= 0:
        raise ValueError(f"nlist must be a positive int or 'auto', got {nlist!r}")
    hier = nlist >= HIER_ASSIGN_MIN_NLIST
    if hier:
        _nl = int(nlist)

        def assign(*a, **k):
            return ivf_assign_hier(*a, n_cents=_nl, **k)
    else:
        assign = ivf_assign
    # persist the trained centroids: the model's two tables (and an
    # ivf_update on top of them) each embed this plan, and without the
    # pin every downstream materialization re-runs the Lloyd rounds —
    # the same unpersisted-model defect the minhash model path had
    # (BASELINE.md r10 snapshot; A/B re-measured: update-entry 10×
    # exponent 0.96 → re-check after pin)
    cents = persist_tracked(
        kmeans_centroids(
            vecs, nlist=nlist, iters=train_iters, id_col=id_col,
            hierarchical=hier,
        )
    )
    cells = assign(
        vecs, F.broadcast(cents), nprobe=1, id_col=id_col
    ).select(
        F.col(id_col),
        F.col("__v").alias("vector"),
        F.col("__cell").cast("long").alias("cell"),
    )
    return {
        "centroids": cents.select(
            F.col("__cid").cast("long").alias("cell"),
            F.col("__centroid").alias("centroid"),
        ),
        "cells": cells,
    }


def ivf_update(
    model: dict[str, DataFrame],
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Incremental add to a pre-built :func:`ivf_fit` index — the FAISS
    ``add()`` contract: the coarse quantizer stays FROZEN (re-training
    would move every stored vector's cell and force a full re-assign),
    new vectors are assigned to the EXISTING centroids and appended to
    the cells table; an id already present is REPLACED (the
    :func:`dedup.minhash_update` semantics).  Invariant (tested): the
    updated cells equal assigning the union corpus under the original
    centroids — updating is exactly re-assigning, minus re-scanning
    the unchanged corpus.

    Scale shape: one broadcast-centroid assignment pass over the DELTA
    only, one id anti-join of the cells table against the delta ids;
    the centroids table passes through untouched.  Periodic re-train
    (quantizer drift as the corpus distribution moves) is a deliberate
    separate :func:`ivf_fit` call — the monitor for WHEN is
    ``embedding_source_drift``.
    """
    cents = F.broadcast(
        model["centroids"].select(
            F.col("cell").alias("__cid"),
            F.col("centroid").alias("__centroid"),
        )
    )
    # replays / re-crawled batches can carry the same id twice inside
    # one delta; without this every copy survives the assignment pass
    # and lands as a duplicate index row (the replace-by-id contract
    # only guards against ids already in the STORED cells table).
    # Survivor = lexicographically-greatest vector (arrays are
    # orderable), NOT dropDuplicates: a delta carrying the same id with
    # DIFFERENT payloads must index the same vector on every run
    # (ADVICE r11).
    vectors = (
        vectors.select(id_col, _as_double(F.col(vec_col)).alias(vec_col))
        .groupBy(id_col)
        .agg(F.max(vec_col).alias(vec_col))
    )
    vecs = vectors.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    fresh = ivf_assign(vecs, cents, nprobe=1, id_col=id_col).select(
        F.col(id_col),
        F.col("__v").alias("vector"),
        F.col("__cell").cast("long").alias("cell"),
    )
    cells = model["cells"].join(
        vectors.select(id_col), id_col, "left_anti"
    ).unionByName(fresh)
    return {"centroids": model["centroids"], "cells": cells}


def ivf_kmeans_topk(
    corpus: DataFrame | None = None,
    queries: DataFrame | None = None,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = 2,
    train_iters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """IVF-Flat with TRAINED coarse quantizer: k-means centroids
    (deterministic Lloyd rounds) instead of the id-subset seed — the
    production IVF shape, balancing cell sizes so the per-cell candidate
    fan-in stays uniform. Query path identical to :func:`ivf_topk`.

    Pass ``model=`` (an :func:`ivf_fit` result, typically read back
    from parquet) instead of ``corpus`` to search a PRE-BUILT index
    without re-training the quantizer or re-assigning the corpus —
    the per-query-batch incremental path."""
    if (corpus is None) == (model is None):
        raise ValueError(
            "pass exactly one of corpus= (fit inline) or model= "
            "(a pre-built ivf_fit index)"
        )
    if queries is None:
        raise ValueError("queries= is required (the vectors to search for)")
    if model is not None:
        # the quantizer is already fitted: nlist/train_iters describe a
        # FIT, and silently ignoring values that disagree with the index
        # would misreport what was searched.  None-sentinel defaults
        # (ADVICE r11): only an EXPLICITLY passed value is rejected —
        # a caller echoing the model's true fit params used to trip a
        # literal-default comparison, and a default change would have
        # silently broken the guard.
        if nlist is not None or train_iters is not None:
            raise ValueError(
                "nlist/train_iters configure the quantizer fit and are "
                "unused with model= (the index is already trained); "
                "omit them"
            )
        cents = F.broadcast(
            model["centroids"].select(
                F.col("cell").alias("__cid"),
                F.col("centroid").alias("__centroid"),
            )
        )
        cells = model["cells"].select(
            F.col(id_col).alias("neighbor_id"),
            F.col("vector").alias("__cv"),
            F.col("cell").alias("__cell"),
        )
        # the index's true cell count decides the query-routing shape;
        # the centroid table is nlist-row metadata, so the count is free
        n_cells = model["centroids"].count()
    else:
        vecs = corpus.select(
            id_col, _as_double(F.col(vec_col)).alias("__v")
        )
        n_cells = 16 if nlist is None else nlist
        if n_cells == "auto":
            n_cells = max(16, -(-vecs.count() // IVF_TARGET_CELL))
        hier_fit = n_cells >= HIER_ASSIGN_MIN_NLIST
        cents = F.broadcast(
            kmeans_centroids(
                vecs,
                nlist=n_cells,
                iters=2 if train_iters is None else train_iters,
                id_col=id_col,
                hierarchical=hier_fit,
            )
        )
        corpus_assign = (
            (lambda *a, **kw: ivf_assign_hier(*a, n_cents=n_cells, **kw))
            if hier_fit else ivf_assign
        )
        cells = corpus_assign(vecs, cents, nprobe=1, id_col=id_col).select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__v").alias("__cv"),
            "__cell",
        )
    # query routing goes two-level past the same threshold — per-query
    # eval cost ~√nlist instead of nlist against a large index
    query_assign = (
        (lambda *a, **kw: ivf_assign_hier(*a, n_cents=n_cells, **kw))
        if n_cells >= HIER_ASSIGN_MIN_NLIST else ivf_assign
    )
    qvecs = queries.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    qcells = query_assign(qvecs, cents, nprobe=nprobe, id_col=id_col).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__qv"), "__cell"
    )
    scored = (
        cells.join(
            qcells,
            (cells["__cell"] == qcells["__cell"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized exact top-k — the production-throughput variant
    of :func:`cosine_topk`.

    Same contract and distributed shape (query side replicated to every
    task, corpus embarrassingly parallel, per-query global rank at the
    end), but the scoring kernel is one numpy matmul per Arrow batch
    (queries × batch similarity matrix) instead of an interpreted
    Catalyst fold per pair — one to two orders of magnitude faster per
    element, which is what a real 100-TB scoring pass runs.  Each task
    emits only its batch-local top-k per query (k × queries rows, not
    batch × queries), so the final rank's shuffle is bounded by
    k × queries × partitions.

    NOT the differential-oracle path: numpy's pairwise summation is not
    bit-identical to the sequential fold the DuckDB oracle mirrors —
    tests assert neighbor-set equality against :func:`cosine_topk`
    instead.  Queries are collected to the driver (they are broadcast-
    small by the same assumption the exact path makes).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__qv")
    ).collect()
    if not q_rows:
        return literal_frame(
            corpus.sparkSession,
            [],
            "query_id long, neighbor_id long, rank long, cosine double",
        )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qm = np.array([r["__qv"] for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    spark = corpus.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    ).repartition(n_parts)
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["__cv"].to_numpy())
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sim = qm @ cm.T  # queries × batch
            # self-matches ranked out with -inf
            sim[q_ids[:, None] == ids[None, :]] = -np.inf
            take = min(kk, sim.shape[1])
            # batch-local top-k per query (argpartition: O(batch) per row)
            part = np.argpartition(-sim, take - 1, axis=1)[:, :take]
            out_q = np.repeat(q_ids, take)
            out_n = ids[part.ravel()]
            out_s = np.take_along_axis(sim, part, axis=1).ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "neighbor_id": out_n[keep],
                    "cosine": out_s[keep],
                }
            )

    scored = c.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the FAISS-SQ8 /
    serving-format compression step that makes billion-vector ANN
    indexes fit in memory (4 bytes → 1 byte per dimension): per vector,
    ``scale = max|v|/127``, ``q_i = round(v_i/scale)`` (half-up via
    floor(x+0.5), clamped to [-127,127]; an all-zero vector quantizes to
    zeros with scale 0), plus the reconstruction RMSE so a recall budget
    can gate which vectors tolerate quantization.

    Pure column expressions over one scan — no shuffle, no UDF; at
    100 TB this runs at parquet-scan speed alongside the IVF assignment.
    Returns (id, scale, q [int array], recon_rmse).
    """
    # staged projections: ``scale`` and ``q`` land in their own columns
    # before anything references them per-element.  Higher-order-function
    # lambdas are interpreted and RE-EVALUATE referenced expressions per
    # element — inlining ``scale`` (itself an O(d) array fold) into the
    # per-element quantize/error lambdas makes the row O(d²); as a
    # projected column each lambda reference is a row-field lookup
    # (r13 optimization, same family as textprep.bind_once).  Arithmetic
    # unchanged — identical output.
    v = _as_double(F.col(vec_col))
    scaled = df.select(
        F.col(id_col),
        v.alias("__v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    scale = F.col("scale")
    quantized = scaled.select(
        F.col(id_col),
        "__v",
        "scale",
        F.transform(
            "__v",
            lambda x: F.when(scale == 0.0, F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(-127),
                    F.least(F.lit(127), F.floor(x / scale + 0.5).cast("int")),
                )
            )
            .cast("int"),
        ).alias("q"),
    )
    err2 = F.aggregate(
        F.zip_with("__v", "q", lambda x, qi: (x - qi * scale) * (x - qi * scale)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return quantized.select(
        F.col(id_col),
        F.col("scale"),
        F.col("q"),
        F.sqrt(err2 / F.size("__v")).alias("recon_rmse"),
    )


def jl_sign_matrix(d_in: int, d_out: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix: entry (i, j)
    is the parity of md5(f"{i}_{j}") — reproducible anywhere (the oracle
    embeds the same literals), no RNG state."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{i}_{j}".encode()).digest()[0] % 2 else -1
            for j in range(d_out)
        ]
        for i in range(d_in)
    ]


def project_jl(
    df: DataFrame,
    d_in: int = 64,
    d_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003 ±1
    variant): ``p_j = (1/√d_out) Σ_i v_i·R_ij`` with the deterministic
    sign matrix from :func:`jl_sign_matrix` — the standard cheap
    dimension reduction before LSH/clustering at corpus scale (pairwise
    distances preserved within ε w.h.p.).

    The matrix is a compile-time literal (d_in×d_out ints folded into
    the expression tree), so the projection is pure whole-stage-codegen
    column math over one scan: no shuffle, no UDF, no broadcast needed.
    Returns (id, p0..p{d_out-1}).
    """
    import math

    r = jl_sign_matrix(d_in, d_out)
    inv = 1.0 / math.sqrt(d_out)
    v = _as_double(F.col(vec_col))
    cols = []
    for j in range(d_out):
        signs = lit_array([float(r[i][j]) for i in range(d_in)])
        dot = F.aggregate(
            F.zip_with(v, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        cols.append((dot * F.lit(inv)).alias(f"p{j}"))
    return df.select(F.col(id_col), *cols)


def pca_cov_frame(
    df: DataFrame,
    d_in: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """The DISTRIBUTED half of PCA as a verifiable DataFrame: the
    population covariance accumulator ``(i, j, n, mean_i, mean_j, cov)``
    over the upper triangle (0-based ``i <= j``), computed as ONE
    aggregation over the corpus (sums of x and x·xᵀ, partial-combined
    map-side — the embeddings never leave the executors; the d(d+1)/2
    pair explosion happens on the single post-aggregation row).

    This is exactly the input :func:`pca_fit` eigendecomposes, split out
    so the scale-critical aggregation has a SQL differential oracle —
    the driver-side eigh is a d×d numpy call pinned by unit test.

    The accumulator itself runs as an Arrow-batched ``mapInPandas``
    kernel: each partition reduces its vectors to ONE partial row
    ``(n, sx[d], sxx[d(d+1)/2])`` via a numpy matmul (Xᵀ·X), and the
    partials (one per partition — cluster-width, not corpus-width)
    combine with two tiny explode+sum aggregations.  The previous
    expression formulation declared d(d+1)/2 + d = 2144 separate
    ``F.sum`` aggregates, which falls out of whole-stage codegen and
    evaluates interpreted per row — A/B at sf0.1 (50k × 64-dim):
    14.4 s → see BASELINE.md r11.  FP sums reorder vs a sequential
    fold, exactly like the SQL oracle's own engine order — the 1e-4
    output grid absorbs both.
    """
    upper = [(i, j) for i in range(d_in) for j in range(i, d_in)]
    iu = [i for i, _ in upper]
    ju = [j for _, j in upper]

    def _partials(batches):
        import numpy as np
        import pandas as pd

        n_rows = 0
        sx = np.zeros(d_in)
        sxx = np.zeros((d_in, d_in))
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            if not len(x):
                continue
            n_rows += x.shape[0]
            sx += x.sum(axis=0)
            sxx += x.T @ x
        if n_rows:
            yield pd.DataFrame(
                {
                    "pn": [n_rows],
                    "psx": [sx.tolist()],
                    "psxx": [sxx[iu, ju].tolist()],
                }
            )

    v = _as_double(F.col(vec_col))
    partials = df.select(v.alias("__v")).mapInPandas(
        _partials, "pn long, psx array<double>, psxx array<double>"
    )
    from time_series_db_spark.cache import persist_tracked

    partials = persist_tracked(partials)
    totals = F.broadcast(partials.agg(F.sum("pn").alias("n")))
    sxr = (
        partials.select(F.posexplode("psx").alias("i", "__x"))
        .groupBy("i")
        .agg(F.sum("__x").alias("sxi"))
    )
    i_lut = lit_array(iu, "int")
    j_lut = lit_array(ju, "int")
    flat = (
        partials.select(F.posexplode("psxx").alias("k", "__x"))
        .groupBy("k")
        .agg(F.sum("__x").alias("sxx"))
        .select(
            F.element_at(i_lut, F.col("k") + 1).cast("long").alias("i"),
            F.element_at(j_lut, F.col("k") + 1).cast("long").alias("j"),
            "sxx",
        )
        .join(sxr.select(F.col("i"), F.col("sxi").alias("__sxi")), "i")
        .join(
            sxr.select(
                F.col("i").alias("j"), F.col("sxi").alias("__sxj")
            ),
            "j",
        )
        .crossJoin(totals)
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.col("n").cast("long").alias("n"),
            "sxx",
            "__sxi",
            "__sxj",
        )
    )
    n = F.col("n").cast("double")
    mean_i = F.col("__sxi") / n
    mean_j = F.col("__sxj") / n
    return flat.select(
        "i",
        "j",
        "n",
        mean_i.alias("mean_i"),
        mean_j.alias("mean_j"),
        (F.col("sxx") / n - mean_i * mean_j).alias("cov"),
    )


def pca_fit(
    df: DataFrame,
    d_in: int = 64,
    d_out: int = 16,
    vec_col: str = "embedding",
) -> dict:
    """Fit a PCA projection on an embedding corpus, Spark-first: the
    d×d covariance is ONE distributed aggregation (sums of x and x·xᵀ —
    d(d+1)/2 + d doubles, partial-combined map-side; the corpus never
    leaves the executors), then the tiny d×d eigendecomposition runs on
    the driver with numpy — the standard scalable-PCA split (e.g.
    Spark MLlib's own RowMatrix.computePrincipalComponents shape).

    Returns {"mean": [d], "components": [d_out][d], "explained": [d_out]}
    with components as unit eigenvectors of the covariance, sorted by
    descending eigenvalue; sign fixed so each component's
    largest-magnitude coordinate is positive (eigenvector sign is
    otherwise arbitrary — determinism matters for tests/replays).
    """
    import numpy as np

    rows = pca_cov_frame(df, d_in=d_in, vec_col=vec_col).collect()
    n = rows[0]["n"] if rows else 0
    if not n or n < 2:
        raise ValueError(f"pca_fit needs >= 2 vectors, got {n}")
    mean = np.zeros(d_in)
    cov = np.zeros((d_in, d_in))
    for r in rows:
        i, j = r["i"], r["j"]
        if i == j:
            mean[i] = r["mean_i"]
        cov[i, j] = r["cov"]
        cov[j, i] = r["cov"]
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(evals)[::-1][:d_out]
    comps = []
    explained = []
    for idx in order:
        vec = evecs[:, idx]
        if vec[int(np.argmax(np.abs(vec)))] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        explained.append(float(max(evals[idx], 0.0)))
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "explained": explained,
    }


def pca_transform(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto a fitted PCA basis: ``p_k = (v − μ)·c_k``.
    The model (d_out·d + d doubles) folds into the expression tree as
    literals — like :func:`project_jl`, pure codegen column math with
    zero shuffle. Returns (id, p0..p{d_out-1})."""
    v = _as_double(F.col(vec_col))
    mean = model["mean"]
    centered = F.zip_with(
        v,
        lit_array([float(m) for m in mean]),
        lambda x, m: x - m,
    )
    cols = []
    for k, comp in enumerate(model["components"]):
        basis = lit_array([float(c) for c in comp])
        dot = F.aggregate(
            F.zip_with(centered, basis, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        cols.append(dot.alias(f"p{k}"))
    return df.select(F.col(id_col), *cols)


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-shape cosine top-k scored on int8-QUANTIZED vectors — the
    production serving path: 4× less memory/bandwidth per vector, and
    because the per-vector scale is a positive scalar it CANCELS in
    cosine, so scoring is pure integer multiply-accumulate over the q
    arrays (no dequantization). Ranking differences vs the float path
    are bounded by the quantization error (recall pinned by unit test).

    Same plan shape as :func:`cosine_topk`: broadcast queries,
    corpus-parallel scoring, per-query WindowGroupLimit.
    """
    spark = corpus.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    cq = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("__cq")
    ).repartition(n_parts)
    qq = F.broadcast(
        quantize_embeddings(queries, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col).alias("query_id"), F.col("q").alias("__qq")
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("__qq"), F.col("__cq"),
            lambda a, b: (a * b).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: (x * x).cast("double")),
                F.lit(0.0),
                lambda acc, e: acc + e,
            )
        )

    cos = F.when(
        (_norm(F.col("__qq")) == 0.0) | (_norm(F.col("__cq")) == 0.0),
        F.lit(None).cast("double"),
    ).otherwise(dot / (_norm(F.col("__qq")) * _norm(F.col("__cq"))))
    scored = cq.join(qq, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — codebooks, encoding, ADC search
# ---------------------------------------------------------------------------


def l2sq_expr(a: Column, b: Column, n: int | None = None) -> Column:
    """Squared L2 distance of two ARRAY<DOUBLE> columns as a sequential
    left-fold — deterministic FP order, mirrored by the DuckDB oracle.

    With ``n`` (a known static dimension) the fold unrolls into plain
    ``((0 + d1²) + d2²) + …`` arithmetic — the IDENTICAL operation
    order, but whole-stage-codegen instead of an interpreted
    higher-order function, ~3× cheaper per row on the PQ assignment's
    hot path (corpus × k codewords evaluations)."""
    if n is not None:
        acc = F.lit(0.0)
        for i in range(1, int(n) + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            acc = acc + d * d
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subslices(vectors: DataFrame, m: int, id_col: str) -> DataFrame:
    """Explode (id, __v) into (id, __s, __sv): m contiguous equal
    sub-vectors per vector (dimension must divide by m)."""
    return vectors.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), i -> "
                f"slice(__v, i * (size(__v) div {m}) + 1, "
                f"size(__v) div {m}))"
            )
        ).alias("__s", "__sv"),
    )


def _pq_assign(
    subs: DataFrame,
    cents: DataFrame,
    id_col: str,
    sub_dims: int | None = None,
) -> DataFrame:
    """Nearest codeword per (vector, subspace): broadcast the m×k
    codebook table, equi-join on the subspace, argmin by (L2², code).

    The argmin is a ``min(struct(d, cid))`` hash aggregation — ordering
    identical to the oracle's ``ORDER BY d, cid`` rank, but with
    map-side partial combine: the shuffle carries one row per (vector,
    subspace), never the scored k-fanout a sort window would move."""
    j = subs.join(F.broadcast(cents), "__s").select(
        id_col,
        "__s",
        "__sv",
        "__cid",
        l2sq_expr(F.col("__sv"), F.col("__cent"), sub_dims).alias("__d"),
    )
    return (
        j.groupBy(id_col, "__s")
        .agg(
            F.min(F.struct("__d", "__cid")).alias("__best"),
            # __sv is functionally dependent on the group key
            F.first("__sv").alias("__sv"),
        )
        .select(id_col, "__s", "__sv", F.col("__best.__cid").alias("__cid"))
    )


def pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    dims: int | None = None,
) -> DataFrame:
    """Per-subspace k-means codebooks (the PQ training step, Jégou et
    al. 2011): each vector splits into ``m`` contiguous sub-vectors and
    every subspace trains its own ``k`` codewords with the same
    deterministic Lloyd rounds as :func:`kmeans_centroids` (k-lowest-id
    init, exact-decimal dim means, empty cells keep their codeword).
    Output: (__s, __cid, __cent) — m·k rows, bytes not gigabytes.

    All m subspaces train in ONE pass per round: assignment is a
    broadcast equi-join on the subspace id (the corpus never shuffles
    for it) and the mean update is a single (s, code, dim) hash
    aggregation with map-side partials.
    """
    from time_series_db_spark.cache import persist_tracked

    subs = _subslices(vectors, m, id_col)
    cents = subs.filter(F.col(id_col) < k).select(
        "__s",
        F.col(id_col).cast("long").alias("__cid"),
        F.col("__sv").alias("__cent"),
    )
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    # the slice frame feeds every Lloyd round AND the encode pass —
    # persist it once; each round's codebook is m·k tiny rows whose
    # lineage would otherwise replay all prior rounds for every
    # downstream consumer, so checkpoint it eagerly per round
    subs = persist_tracked(subs.repartition(n_parts))
    sub_dims = dims // m if dims is not None else None
    for _ in range(int(iters)):
        assigned = _pq_assign(subs, cents, id_col, sub_dims)
        if sub_dims is not None:
            # fixed-width fast path: per-dim exact-decimal sums as ONE
            # hash aggregation (no posexplode, no second shuffle); the
            # mean arithmetic — cast(decimal-sum as double) / count —
            # is identical to the generic path and the SQL oracle
            new_cents = (
                assigned.groupBy("__s", "__cid")
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    *[
                        F.sum(
                            F.element_at("__sv", i).cast("decimal(27,9)")
                        ).alias(f"__d{i}")
                        for i in range(1, sub_dims + 1)
                    ],
                )
                .select(
                    "__s",
                    "__cid",
                    F.array(
                        *[
                            F.col(f"__d{i}").cast("double") / F.col("__n")
                            for i in range(1, sub_dims + 1)
                        ]
                    ).alias("__new"),
                )
            )
        else:
            dim_means = (
                assigned.select(
                    "__s", "__cid",
                    F.posexplode("__sv").alias("__pos", "__val"),
                )
                .groupBy("__s", "__cid", "__pos")
                .agg(
                    (
                        F.sum(F.col("__val").cast("decimal(27,9)")).cast(
                            "double"
                        )
                        / F.count(F.lit(1))
                    ).alias("__m")
                )
            )
            new_cents = (
                dim_means.groupBy("__s", "__cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__m"))
                    ).alias("__pm")
                )
                .select(
                    "__s",
                    "__cid",
                    F.transform("__pm", lambda s: s.getField("__m")).alias(
                        "__new"
                    ),
                )
            )
        cents = (
            cents.join(new_cents, ["__s", "__cid"], "left")
            .select(
                "__s",
                "__cid",
                F.coalesce(F.col("__new"), F.col("__cent")).alias("__cent"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    dims: int | None = None,
) -> DataFrame:
    """Encode each vector as its m nearest-codeword ids (subspace
    order): (id, codes ARRAY<BIGINT>).  With m=4, k=16 a 64-dim float64
    vector compresses 512 bytes → 2 (16 bits) — the memory side of
    billion-scale ANN."""
    subs = _subslices(vectors, m, id_col)
    assigned = _pq_assign(
        subs, codebooks, id_col, dims // m if dims is not None else None
    )
    return (
        assigned.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__s", "__cid"))).alias("__sc"))
        .select(
            id_col,
            F.transform("__sc", lambda s: s.getField("__cid")).alias("codes"),
        )
    )


def _check_dense_codebooks(books: DataFrame, m: int, k: int) -> None:
    """The ADC inner loop indexes the flattened per-query LUT
    positionally (``s * k + code``), which is only correct when every
    subspace carries a dense codeword set ``0..k-1`` — a shorter
    codebook would silently misalign every lookup after the gap instead
    of erroring.  ``pq_codebooks`` seeds codeword ``c`` from the vector
    whose id is ``c``, so a corpus whose id space does not cover
    ``0..k-1`` trains a sparse book; reject it here.  The codebook frame
    is localCheckpoint'ed m·k-row metadata, so the count is free."""
    n = books.count()
    if n != m * k:
        raise ValueError(
            f"PQ ADC requires dense per-subspace codebooks: expected "
            f"m*k = {m * k} codewords, got {n}. pq_codebooks seeds "
            f"codeword c from the vector with id c, so the corpus id "
            f"space must cover 0..k-1 — lower k or reindex the corpus."
        )


#: flat ADC is O(corpus × queries) with a broadcast per-query LUT —
#: beyond this many queries the broadcast (m·k doubles per query) and
#: the scored row count stop being "small side" and the celled
#: :func:`ivfpq_topk` is the right shape
MAX_ADC_QUERIES = 10_000


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    m: int = 4,
    k: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """PQ search with Asymmetric Distance Computation: queries stay
    exact; each query precomputes an m×k lookup table of sub-distances
    to every codeword, and a corpus vector's approximate L2² is the
    ordered sum of m table lookups — m array reads instead of a d-dim
    float scan per pair.  Output: (query_id, neighbor_id, rank,
    adc_dist), rank 1 = nearest.

    100 TB shape: codebooks and per-query LUTs are kilobytes and
    broadcast; the corpus side scans CODES (2 bytes/vector at m=4,k=16,
    not 512), the distance is pure codegen arithmetic, and the top-k is
    a per-query rank window over scored candidates — the same partial
    WindowGroupLimit cut as the exact path.  Recall vs exact L2 is
    pinned by a unit-test gate.  More than :data:`MAX_ADC_QUERIES`
    queries raise ``ValueError``.
    """
    if not within_bound(queries, MAX_ADC_QUERIES, "adc_queries"):
        raise ValueError(
            f"pq_adc_topk is a flat O(corpus × queries) ADC scan with a "
            f"broadcast per-query LUT; the query set exceeds "
            f"MAX_ADC_QUERIES={MAX_ADC_QUERIES}. Use ivfpq_topk (celled "
            f"scan) for large query sets."
        )
    vecs = corpus.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    books = pq_codebooks(
        vecs, m=m, k=k, iters=train_iters, id_col=id_col, dims=dims
    )
    _check_dense_codebooks(books, m, k)
    codes = pq_encode(vecs, books, m=m, id_col=id_col, dims=dims)
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__v")
    )
    qsubs = _subslices(qvecs, m, "query_id")
    lut = (
        qsubs.join(F.broadcast(books), "__s")
        .select(
            "query_id",
            "__s",
            "__cid",
            l2sq_expr(
                F.col("__sv"), F.col("__cent"),
                dims // m if dims is not None else None,
            ).alias("__d"),
        )
        .groupBy("query_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("__s", "__cid", "__d"))).alias(
                "__scd"
            )
        )
        .select(
            "query_id",
            F.transform("__scd", lambda s: s.getField("__d")).alias("__lut"),
        )
    )
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    scored = (
        codes.repartition(n_parts)
        .crossJoin(F.broadcast(lut))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.aggregate(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> "
                    f"element_at(__lut, s * {k} + "
                    f"int(element_at(codes, s + 1)) + 1))"
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    shortlist: int = 50,
    m: int = 16,
    k: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """PQ + exact re-rank — the production billion-scale shape: the ADC
    scan over 2-byte codes nominates a per-query ``shortlist``, then
    ONLY those candidates' full vectors are fetched and re-ranked by
    exact L2².  Output: (query_id, neighbor_id, rank, l2_dist).

    Recall of the final top-k equals the shortlist's containment of the
    true neighbors (gated by unit test); the corpus-wide scan never
    touches full vectors — they are read for shortlist × queries rows
    only, via a broadcast semi-join into the vector store.
    """
    short = pq_adc_topk(
        corpus, queries, topk=shortlist, m=m, k=k,
        train_iters=train_iters, id_col=id_col, vec_col=vec_col,
        dims=dims,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    rer = (
        vecs.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            l2sq_expr(F.col("__cv"), F.col("__qv"), dims).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "l2_dist")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    shortlist: int = 50,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 16,
    k: int = 16,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """IVF-PQ — the production billion-scale index shape (FAISS
    ``IVFx,PQy``): a trained coarse quantizer routes each vector to a
    cell; a query ADC-scans ONLY its ``nprobe`` nearest cells' PQ codes
    for a shortlist, and exact L2² re-ranks the shortlist's full
    vectors.  Output: (query_id, neighbor_id, rank, l2_dist).

    Simplification vs FAISS: codes quantize raw vectors, not per-cell
    residuals — residual encoding would couple the two codebook
    trainings; the cell pruning and the memory story are identical.

    100 TB shape: both codebooks broadcast (kilobytes); candidate
    generation is the (cell) EQUI-join of the code table against the
    probed query cells — corpus work scales with nprobe/nlist of the
    data, never all of it; full vectors appear only in the bounded
    re-rank.
    """
    vecs = corpus.select(id_col, _as_double(F.col(vec_col)).alias("__v"))
    coarse = F.broadcast(
        kmeans_centroids(vecs, nlist=nlist, iters=train_iters, id_col=id_col)
    )
    cells = ivf_assign(vecs, coarse, nprobe=1, id_col=id_col).select(
        F.col(id_col), F.col("__cell")
    )
    books = pq_codebooks(
        vecs, m=m, k=k, iters=train_iters, id_col=id_col, dims=dims
    )
    _check_dense_codebooks(books, m, k)
    codes = pq_encode(vecs, books, m=m, id_col=id_col, dims=dims).join(
        cells, id_col
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    qcells = ivf_assign(qvecs, coarse, nprobe=nprobe, id_col="query_id").select(
        "query_id", "__cell"
    )
    qsubs = _subslices(qvecs, m, "query_id")
    lut = (
        qsubs.join(F.broadcast(books), "__s")
        .select(
            "query_id",
            "__s",
            "__cid",
            l2sq_expr(
                F.col("__sv"), F.col("__cent"),
                dims // m if dims is not None else None,
            ).alias("__d"),
        )
        .groupBy("query_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("__s", "__cid", "__d"))).alias(
                "__scd"
            )
        )
        .select(
            "query_id",
            F.transform("__scd", lambda s: s.getField("__d")).alias("__lut"),
        )
    )
    probes = F.broadcast(qcells.join(lut, "query_id"))
    scored = (
        codes.join(probes, "__cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.aggregate(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> "
                    f"element_at(__lut, s * {k} + "
                    f"int(element_at(codes, s + 1)) + 1))"
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("__sr", F.row_number().over(ws))
        .filter(F.col("__sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    rq = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    rer = (
        rvecs.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(rq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            l2sq_expr(F.col("__cv"), F.col("__qv"), dims).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "l2_dist")
    )


#: the flat hard-negative miner broadcasts the FULL anchor set into an
#: inequality-condition BroadcastNestedLoopJoin — O(corpus × anchors)
#: scored rows plus a per-anchor broadcast cost, the same flat-exact
#: shape as :data:`MAX_ADC_QUERIES` gates for ADC.  Beyond this many
#: anchors, :func:`hard_negatives_ivf` (celled candidate scan) is the
#: right shape.
MAX_HN_ANCHORS = 10_000


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the batch-mining
    step of SimCLR/SBERT-style pipelines): for each anchor, the ``k``
    MOST-similar corpus vectors whose ``label_col`` DIFFERS — the
    near-miss impostors that make the strongest training negatives.
    Output: (query_id, neighbor_id, rank, cosine, query_label,
    neighbor_label); ties break on neighbor id.

    Same 100 TB shape as :func:`cosine_topk`: anchors broadcast, the
    corpus scan is embarrassingly parallel (rebalanced across cores),
    and the top-k is a partial WindowGroupLimit cut — the label
    inequality is applied IN the join condition, so same-label pairs
    never materialize.  More than :data:`MAX_HN_ANCHORS` anchors raise
    ``ValueError`` — a large anchor set silently turns the broadcast
    into gigabytes; use :func:`hard_negatives_ivf` there instead."""
    if not within_bound(queries, MAX_HN_ANCHORS, "hn_anchors"):
        raise ValueError(
            f"hard_negatives is a flat O(corpus × anchors) scan with the "
            f"full anchor set broadcast; the anchor set exceeds "
            f"MAX_HN_ANCHORS={MAX_HN_ANCHORS}. Use hard_negatives_ivf "
            f"(celled scan) for large anchor sets."
        )
    spark = corpus.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
        F.col(label_col).alias("neighbor_label"),
    ).repartition(n_parts)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("__qv"),
            F.col(label_col).alias("query_label"),
        )
    )
    scored = c.join(
        q,
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    ).select(
        "query_id",
        "neighbor_id",
        "query_label",
        "neighbor_label",
        cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", "cosine",
            "query_label", "neighbor_label",
        )
    )


#: target mean cell size for ``hard_negatives_ivf(nlist="auto")`` —
#: candidate volume is anchors × nprobe × cell, so holding cell size
#: constant keeps the cell join linear in the anchor count even when
#: anchors scale with the corpus (the r13 occupancy-knob audit: at a
#: FIXED nlist=16 with anchors ∝ N the join is N²/(50·16/nprobe))
HN_IVF_TARGET_CELL = 512


def hard_negatives_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int | str = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    candidates_only: bool = False,
) -> DataFrame:
    """Celled hard-negative mining — the scale path past
    :data:`MAX_HN_ANCHORS`: IVF coarse quantizer (deterministic centroid
    subset, same index as :func:`ivf_topk`) restricts each anchor's
    candidate scan to its ``nprobe`` nearest cells, with the label
    inequality applied IN the cell join so same-label pairs never
    materialize.  Output matches :func:`hard_negatives`:
    (query_id, neighbor_id, rank, cosine, query_label, neighbor_label).

    100 TB shape: centroids broadcast (nlist rows); corpus and anchors
    each assign map-side then shuffle ONCE on ``__cell`` — candidate
    fan-in per cell is ~N/nlist, so anchor count scales the anchor side
    only, never a broadcast.  Approximate like any IVF search: a hard
    negative in an unprobed cell is missed; raise ``nprobe`` for
    recall.

    ``nlist="auto"`` scales the cell count with the corpus —
    ``max(16, ceil(n / HN_IVF_TARGET_CELL))`` — so per-anchor candidate
    volume stays ~constant instead of growing with N at a fixed cell
    count (eager ``count()`` at plan-build, the ``band_symbols="auto"``
    pattern).  ``candidates_only=True`` returns the distinct celled
    candidate pairs before scoring/rank — the sweep/budget hook.
    """
    if nlist == "auto":
        n = corpus.count()
        nlist = max(16, -(-n // HN_IVF_TARGET_CELL))
    elif not isinstance(nlist, int) or int(nlist) <= 0:
        raise ValueError(f"nlist must be a positive int or 'auto', got {nlist!r}")
    # past the hierarchy threshold, flat assignment is itself the
    # quadratic term (N × nlist evals with nlist ∝ N) — route two-level
    if nlist >= HIER_ASSIGN_MIN_NLIST:
        def assign(*a, **k):
            return ivf_assign_hier(*a, n_cents=int(nlist), **k)
    else:
        assign = ivf_assign
    cents = F.broadcast(
        corpus.filter(F.col(id_col) < nlist).select(
            F.col(id_col).alias("__cid"),
            _as_double(F.col(vec_col)).alias("__centroid"),
        )
    )
    vecs = corpus.select(
        id_col,
        _as_double(F.col(vec_col)).alias("__v"),
        F.col(label_col).alias("__lbl"),
    )
    cells = assign(
        vecs, cents, nprobe=1, id_col=id_col, carry_cols=("__lbl",)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__v").alias("__cv"),
        F.col("__lbl").alias("neighbor_label"),
        "__cell",
    )
    qvecs = queries.select(
        id_col,
        _as_double(F.col(vec_col)).alias("__v"),
        F.col(label_col).alias("__lbl"),
    )
    qcells = assign(
        qvecs, cents, nprobe=nprobe, id_col=id_col, carry_cols=("__lbl",)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__lbl").alias("query_label"),
        "__cell",
    )
    scored = (
        cells.join(
            qcells,
            (cells["__cell"] == qcells["__cell"])
            & (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neighbor_label")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "query_label",
            "neighbor_label",
            cosine_expr(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
        # a neighbor can appear via several probed cells — dedup before rank
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if candidates_only:
        return scored.select("query_id", "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", "cosine",
            "query_label", "neighbor_label",
        )
    )


def recall_at_k(
    approx: DataFrame, exact: DataFrame, k: int = 5
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against the
    exact baseline — the quality metric every ANN deployment monitors
    (and the quantitative form of the unit-test recall gates):
    ``|approx ∩ exact| / |exact|`` over each query's top-k sets.
    Inputs are any two search outputs with (query_id, neighbor_id,
    rank) columns; output (query_id, n_exact, n_hit, recall).
    Queries the approximate index returns nothing for still appear
    (n_hit 0) — silent misses are the point of the metric.

    100 TB shape: both inputs are already-cut top-k tables (queries×k
    rows — metadata-sized next to any corpus), so this is two
    key-partitioned equi-joins and one partial-aggregated groupBy;
    nothing here touches the corpus."""
    a = approx.filter(F.col("rank") <= k).select(
        "query_id", F.col("neighbor_id").alias("__an")
    )
    e = exact.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id"
    )
    joined = e.join(
        a,
        (a["query_id"] == e["query_id"])
        & (F.col("__an") == F.col("neighbor_id")),
        "left",
    ).select(e["query_id"], "neighbor_id", "__an")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(
                F.when(F.col("__an").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def matryoshka_truncate(
    vectors: DataFrame,
    dims_keep: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka prefix truncation + L2 renormalization (Kusupati et
    al. 2022, "Matryoshka Representation Learning"): keep the first
    ``dims_keep`` dimensions of each embedding and rescale to unit L2 —
    the standard cheap-index trick for MRL-trained embedding columns
    (search the short prefix, re-rank with the full vector).  Output is
    exploded scalar rows ``(id, dim, value, energy)`` — ``energy`` the
    retained fraction ``‖prefix‖²/‖full‖²`` (the per-vector quality
    diagnostic); zero-prefix vectors yield NULL values and energy 0.

    100 TB shape: pure per-row column arithmetic on one corpus scan —
    no shuffle, no UDF; the explode multiplies rows by the (small)
    kept dimensionality only.
    """
    if dims_keep <= 0:
        raise ValueError("dims_keep must be positive")
    v = _as_double(F.col(vec_col))
    pre = F.slice(v, 1, int(dims_keep))

    def dot(a):
        return F.aggregate(
            F.zip_with(a, a, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    base = vectors.select(
        F.col(id_col),
        pre.alias("__pre"),
        F.sqrt(dot(pre)).alias("__pn"),
        dot(pre).alias("__pe"),
        dot(v).alias("__fe"),
    )
    return base.select(
        F.col(id_col),
        F.col("__pn"),
        F.try_divide(F.col("__pe"), F.col("__fe")).alias("__energy"),
        F.posexplode("__pre").alias("dim", "__x"),
    ).select(
        id_col,
        F.col("dim").cast("long").alias("dim"),
        F.try_divide(F.col("__x"), F.col("__pn")).alias("value"),
        F.coalesce(F.col("__energy"), F.lit(0.0)).alias("energy"),
    )


def source_drift(
    emb: DataFrame,
    docs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group embedding-distribution drift against the corpus: the
    centroid of each ``group_col`` slice compared to the global
    centroid by cosine and L2 — the distribution-shift monitor a
    training-data pipeline runs when a new crawl snapshot or source
    lands (a source whose centroid swings away from the corpus is the
    first thing to audit before mixing it in).

    Returns one row per group: ``(group, n_docs, cos_to_corpus,
    l2_to_corpus)``.  ``dim`` restricts the comparison to the first
    ``dim`` components (the Matryoshka-prefix drift check — pass the
    full width for whole-vector drift); components past ``dim`` are
    sliced off BEFORE the explode, so a prefix check also pays less.

    Scale shape: embeddings explode to (id, dim, x) and equi-join the
    two-column (id, group) projection of ``docs`` — co-partitioned
    hash join, no broadcast assumption on either 100 TB side; ONE
    partial-aggregated groupBy(group, dim) collapses the corpus to
    groups×dim rows; the corpus centroid re-aggregates THOSE sums
    (never a second scan); the final per-group reduction runs over
    groups×dim rows with the dim-indexed corpus centroid broadcast
    (dim rows — metadata-sized by construction).
    """
    if dim <= 0:
        raise ValueError("source_drift needs dim > 0")
    ex = emb.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, int(dim))
        ).alias("dim", "__x"),
    )
    src = docs.select(
        F.col(doc_id_col).alias("__id"), F.col(group_col).alias("group")
    )
    per = (
        ex.join(src, "__id")
        .groupBy("group", "dim")
        .agg(
            F.sum("__x").alias("__s"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
    )
    corpus = per.groupBy("dim").agg(
        F.sum("__s").alias("__cs"), F.sum("__n").alias("__cn")
    )
    m = per.join(F.broadcast(corpus), "dim").select(
        "group",
        "__n",
        (F.col("__s") / F.col("__n")).alias("__ms"),
        (F.col("__cs") / F.col("__cn")).alias("__mc"),
    )
    agg = m.groupBy("group").agg(
        F.max("__n").cast("long").alias("n_docs"),
        F.sum(F.col("__ms") * F.col("__mc")).alias("__dot"),
        F.sum(F.col("__ms") * F.col("__ms")).alias("__ss"),
        F.sum(F.col("__mc") * F.col("__mc")).alias("__sc"),
        F.sum(
            (F.col("__ms") - F.col("__mc"))
            * (F.col("__ms") - F.col("__mc"))
        ).alias("__d2"),
    )
    return agg.select(
        "group",
        "n_docs",
        F.try_divide(
            F.col("__dot"), F.sqrt("__ss") * F.sqrt("__sc")
        ).alias("cos_to_corpus"),
        F.sqrt("__d2").alias("l2_to_corpus"),
    )
