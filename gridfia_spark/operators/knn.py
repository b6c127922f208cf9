"""kNN join via cell k-ring expansion (north rule; SURVEY §2.3 kNN row).

The H3 k-ring pattern on the quad grid: index both point sets at a resolution
``res``, explode each query point's Chebyshev-R ring of cells, equi-join on
the integer cell index pair ``(cx, cy)`` (a plain shuffle/broadcast hash
join), then a windowed top-k. The pair is equal exactly when the Morton cell
id is equal, and costs no bit interleaving to build or to analyse.

Completeness guarantee: a ring of radius R around a point's cell contains
every point within euclidean distance R*cell_size. So each round keeps only
the candidates inside that disc (``dist_sq < (R*cell_size)^2``, which Spark
folds into the join condition) before the window. A query is then proven
exactly when it has a rank-k row: its k nearest inside the disc are its k
nearest overall, since every target outside the disc is farther. One count
of the rank-k rows is the round's proof. The driver loop doubles R and
re-runs only the unproven queries (including those with no candidate yet),
so results are provably exact, never approximate. The first R comes from the
data: one aggregation (target count and extent, and the query count of a
join of two tables) gives the target density; no caller passes statistics.
Too few targets to ever prove a query fails fast, before any join. Only a
self-join (``queries is targets``) drops a neighbor by id (the point itself).

Scale notes: ring explosion is (2R+1)^2 rows per query, on the query side
only. The round has two plans, chosen from the target count the stats pass
already has. When the targets fit under Spark's own
``spark.sql.autoBroadcastJoinThreshold`` (48 B a row; -1 means never), the
query side is hash-partitioned once on ``point_id`` and the targets are
broadcast: the ring probes them inside the query partitions, so the top-k
window runs in the join's stage, with no shuffle of candidate rows and one
sort. Otherwise both sides shuffle on (cx, cy) and the window shuffles on
``point_id``; AQE skew-join splits hot cells, and no target table has to fit
in the driver. Distances use exact arithmetic on coordinates (dist_sq), ties
broken by neighbor id for determinism.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import grid

# An UnsafeRow of the five 8-byte target columns: null bitset + 5 fields.
_T_ROW_BYTES = 48


def _targets(targets: DataFrame, res: int) -> DataFrame:
    """The build side of every round: (neighbor_id, nx, ny, cx, cy)."""
    ix, iy = grid.cell_index_cols(F.col("x"), F.col("y"), res)
    return targets.select(
        F.col("point_id").alias("neighbor_id"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        ix.alias("cx"),
        iy.alias("cy"),
    )


def _place(q: DataFrame, t: DataFrame, n_t: int) -> tuple[DataFrame, DataFrame]:
    """The round's plan, from the target count: targets under Spark's
    broadcast threshold are broadcast into the query side, hash-partitioned
    once on ``point_id`` (so the top-k window needs no exchange of its
    own); larger targets keep the shuffle join."""
    spark = q.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if n_t * _T_ROW_BYTES > limit:
        return q, t
    n = spark.sparkContext.defaultParallelism
    return q.repartition(n, "point_id"), F.broadcast(t)


def _ring_cells(df: DataFrame, res: int, radius: int) -> DataFrame:
    """Each (x, y) row once per cell ``(cx, cy)`` of its Chebyshev-``radius``
    ring, entirely JVM-side: two explodes over integer cell-index ranges.
    The ranges stop at the world-grid border, so a ring names each cell
    once (a point outside the world sits in a border cell, and every ring
    reaching past the border holds that cell)."""
    n = (1 << res) - 1
    ix, iy = grid.cell_index_cols(F.col("x"), F.col("y"), res)
    span = lambda c: F.sequence(  # noqa: E731
        F.greatest(c - radius, F.lit(0)), F.least(c + radius, F.lit(n))
    )
    return df.withColumn("cx", F.explode(span(ix))).withColumn(
        "cy", F.explode(span(iy))
    )


def _round(
    qleft: DataFrame, t: DataFrame, k: int, res: int, radius: int, self_join: bool
) -> DataFrame:
    """One proof round: each query's top-k among the targets inside its
    radius-``radius`` disc, as (point_id, rank, neighbor_id, dist_sq)."""
    cand = _ring_cells(qleft, res, radius).join(t, ["cx", "cy"])
    if self_join:
        cand = cand.filter(F.col("point_id") != F.col("neighbor_id"))
    dx = F.col("x") - F.col("nx")
    dy = F.col("y") - F.col("ny")
    # plain multiplication (not pow) keeps integer-valued doubles exact
    d = cand.withColumn("dist_sq", dx * dx + dy * dy).filter(
        F.col("dist_sq") < F.lit((radius * grid.cell_size(res)) ** 2)
    )
    win = Window.partitionBy("point_id").orderBy("dist_sq", "neighbor_id")
    return (
        d.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("point_id", "rank", "neighbor_id", "dist_sq")
    )


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    res: int = grid.JOIN_RES,
    max_radius: int = 64,
) -> DataFrame:
    """Exact k-nearest-neighbors of each query point among targets.

    Inputs need columns (point_id, x, y). Output:
    (point_id, rank, neighbor_id, dist_sq), rank 1..k ordered by
    (dist_sq, neighbor_id). A self-join (``queries is targets``) excludes
    each point itself; two distinct tables keep every target, including
    one that shares a query's ``point_id``.

    The first ring radius is sized from one aggregation over the targets
    (count and extent; in a join of two tables it counts the queries in the
    same pass). Fewer than k targets (k+1 in a self-join) raise
    ``ValueError`` before any join; a query still unproven at
    ``max_radius`` raises ``RuntimeError`` and leaves nothing cached.

    The same target count picks one of two round plans against Spark's
    ``spark.sql.autoBroadcastJoinThreshold`` (``_place``): broadcast targets
    into queries partitioned on ``point_id``, or the shuffle join.
    """
    self_join = queries is targets
    q = queries.select("point_id", "x", "y")
    t = _targets(targets, res)

    # Size the FIRST ring radius from target density: for k neighbors at
    # uniform density lam, d_k ~ sqrt(k/(pi*lam)), and the completeness
    # proof needs d_k < R*cell_size — starting at R=1 in a sparse grid
    # re-runs the whole join+window for R=1,2,4,... and every failed
    # iteration is a full re-computation. A 2x-margin density estimate
    # makes the first iteration the accepted one in practice; the
    # radius-doubling proof loop below keeps results exact even when the
    # estimate is off (clustered or adversarial layouts). A join of two
    # tables counts its queries in the same aggregation.
    side = targets.select(F.lit(True).alias("is_t"), "x", "y")
    if not self_join:
        side = side.unionByName(q.select(F.lit(False).alias("is_t"), "x", "y"))
    is_t = F.col("is_t")
    on_t = lambda c: F.when(is_t, F.col(c))  # noqa: E731
    stats = side.agg(
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.count(F.when(~is_t, 1)).alias("n_q"),
        F.min(on_t("x")).alias("x0"),
        F.max(on_t("x")).alias("x1"),
        F.min(on_t("y")).alias("y0"),
        F.max(on_t("y")).alias("y1"),
    ).first()
    n_t = int(stats.n_t)
    n_left = n_t if self_join else int(stats.n_q)  # queries not yet PROVEN
    need = k + 1 if self_join else k
    if n_left and n_t < need:
        raise ValueError(
            f"knn_join needs at least {need} target points for k={k}, got {n_t}"
        )
    cs = grid.cell_size(res)
    est = 1
    if n_t:
        area = max(stats.x1 - stats.x0, cs) * max(stats.y1 - stats.y0, cs)
        lam = n_t / area  # targets per m^2
        d_k = math.sqrt((k + 1) / (math.pi * lam))
        est = max(1, math.ceil(2.0 * d_k / cs))
    radius = min(est, max_radius)
    qleft, t = _place(q, t, n_t)
    done: list[DataFrame] = []  # proven per-query top-k pieces
    kept: list[DataFrame] = []  # the persisted rounds those pieces read
    while True:
        topk = _round(qleft, t, k, res, radius, self_join).persist()
        # a rank-k row inside the disc is the whole proof of a query
        proven = topk.filter(F.col("rank") == k)
        n_ok = proven.count()
        if n_ok == n_left:
            return functools.reduce(DataFrame.unionByName, done + [topk])
        # Only the UNPROVEN queries escalate (guide §2.3 — shuffle fewer
        # bytes): the candidate explosion grows with R^2, so re-running the
        # satisfied majority at the doubled radius would dominate the job.
        # Keep this round's proven top-k rows, anti-join the proven ids out
        # of the query side (queries with no candidate stay), and expand
        # the ring only for the rest. The semi/anti joins move point ids,
        # never candidate rows (broadcast left to the planner — at real
        # scale the ids are O(queries) and must be allowed to shuffle).
        if n_ok:
            ok_ids = proven.select("point_id")
            done.append(topk.join(ok_ids, "point_id", "semi"))
            kept.append(topk)
            qleft = qleft.join(ok_ids, "point_id", "anti")
            n_left -= n_ok
        else:
            topk.unpersist()
        if radius >= max_radius:
            break
        radius = min(radius * 2, max_radius)
    for df in kept:
        df.unpersist()
    raise RuntimeError(f"knn_join did not converge within radius {max_radius}")
