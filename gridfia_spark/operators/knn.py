"""kNN join via cell k-ring expansion (north rule; SURVEY §2.3 kNN row).

The H3 k-ring pattern on the quad grid: index both point sets at a resolution
``res``, explode each query point's Chebyshev-k ring of cells, equi-join on
cell id (a plain shuffle/broadcast hash join), then a distance-bounded
windowed top-k.

Completeness guarantee: a ring of radius R around a point's cell contains
every point within euclidean distance R*cell_size. The driver loop doubles R
until the observed kth-neighbor distance of every query satisfies
d_k < R*cell_size (usually one iteration) — so results are provably exact,
never approximate. The first R comes from the data: one aggregation over
the targets (count and extent) gives their density; no caller passes
statistics. Only a self-join (``queries is targets``) drops a neighbor by
id (the point itself).

Scale notes: ring explosion is (2R+1)^2 rows per query — at R=1 a 9x
amplification of the (small) query side only; the build side shuffles once on
cell_id; AQE skew-join splits hot cells. Distances use exact arithmetic on
coordinates (dist_sq), ties broken by neighbor id for determinism.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import grid


def _with_cell(df: DataFrame, res: int, col: str = "cell_id") -> DataFrame:
    """Cell id as a pure JVM column expression (grid.cell_of_xy_col) —
    bit-identical to the numpy encode, whole-stage-codegen, and immune to
    the optimizer's UDF-duplicating null-filter pushdown (guide §4.4)."""
    return df.withColumn(col, grid.cell_of_xy_col(F.col("x"), F.col("y"), res))


def _ring_explode_xy(df: DataFrame, res: int, radius: int) -> DataFrame:
    """Chebyshev-``radius`` ring cells from (x, y) entirely JVM-side: two
    offset explodes + the Morton encode expression. The previous pandas-UDF
    ring paid an ArrowEvalPython round-trip (a JVM→Python→JVM transpose of
    every candidate row) per radius iteration; this form leaves the whole
    candidate side inside WholeStageCodegen. Clipping at the world-grid
    border matches numpy k_ring (duplicates possible only there)."""
    n = (1 << res) - 1
    seq = F.sequence(F.lit(-radius), F.lit(radius))
    ix, iy = grid.cell_index_cols(F.col("x"), F.col("y"), res)
    clip = lambda c: F.greatest(F.lit(0), F.least(c, F.lit(n)))  # noqa: E731
    d = (
        df.withColumn("_ix", ix)
        .withColumn("_iy", iy)
        .withColumn("_dx", F.explode(seq))
        .withColumn("_dy", F.explode(seq))
    )
    probe = grid.encode_cell_col(
        clip(d["_ix"] + d["_dx"]), clip(d["_iy"] + d["_dy"]), res
    )
    return d.withColumn("probe_cell", probe).drop("_ix", "_iy", "_dx", "_dy")


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
    (count and extent). The estimate only steers the first radius: the
    query count that ends the proof loop is counted from the data too.
    """
    self_join = queries is targets
    q = queries.select("point_id", "x", "y")
    t = _with_cell(targets.select("point_id", "x", "y"), res).select(
        F.col("point_id").alias("neighbor_id"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.col("cell_id").alias("probe_cell"),
    )

    cs = grid.cell_size(res)
    # Size the FIRST ring radius from target density: for k neighbors at
    # uniform density lam, d_k ~ sqrt(k/(pi*lam)), and the completeness
    # proof needs d_k < R*cell_size — starting at R=1 in a sparse grid
    # re-runs the whole join+window for R=1,2,4,... and every failed
    # iteration is a full re-computation. A 2x-margin density estimate
    # makes the first iteration the accepted one in practice; the
    # radius-doubling proof loop below is unchanged, so results stay exact
    # even when the estimate is off (clustered or adversarial layouts).
    tstats = t.agg(
        F.count("*").alias("n"),
        F.min("nx").alias("x0"),
        F.max("nx").alias("x1"),
        F.min("ny").alias("y0"),
        F.max("ny").alias("y1"),
    ).first()
    n_t = int(tstats.n)
    n_queries = n_t if self_join else q.count()
    est = 1
    if n_t and tstats.x0 is not None:
        area = max(tstats.x1 - tstats.x0, cs) * max(tstats.y1 - tstats.y0, cs)
        lam = n_t / area  # targets per m^2
        d_k = math.sqrt((k + 1) / (math.pi * lam))
        est = max(1, math.ceil(2.0 * d_k / cs))
    radius = min(est, max_radius)
    qleft = q  # queries whose top-k is not yet PROVEN complete
    n_left = n_queries
    done: list[DataFrame] = []  # proven per-query top-k pieces
    while radius <= max_radius:
        cand = _ring_explode_xy(qleft, res, radius).join(t, "probe_cell")
        if self_join:
            cand = cand.filter(F.col("point_id") != F.col("neighbor_id"))
        dx = F.col("x") - F.col("nx")
        dy = F.col("y") - F.col("ny")
        # plain multiplication (not pow) keeps integer-valued doubles exact
        d = cand.withColumn("dist_sq", dx * dx + dy * dy)
        win = Window.partitionBy("point_id").orderBy("dist_sq", "neighbor_id")
        topk = (
            d.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("point_id", "rank", "neighbor_id", "dist_sq")
        ).persist()
        # completeness per query: k neighbors found, all within R*cell_size
        # (true d_k <= observed d_k, so a passing query's top-k is exact) —
        # one aggregation job over the per-query stats
        per = topk.groupBy("point_id").agg(
            F.count("*").alias("n"), F.max("dist_sq").alias("dk")
        )
        ok_expr = (F.col("n") >= k) & (F.col("dk") < F.lit((radius * cs) ** 2))
        chk = per.agg(
            F.count("*").alias("n_q"),
            F.sum((~ok_expr).cast("int")).alias("bad"),
        ).first()
        n_ok = int(chk.n_q) - int(chk.bad)
        if chk.bad == 0 and chk.n_q == n_left:
            if not done:
                return topk
            out = done[0]
            for piece in done[1:] + [topk]:
                out = out.unionByName(piece)
            return out
        if radius >= max_radius:
            break
        # Only the UNPROVEN queries escalate (guide §2.3 — shuffle fewer
        # bytes): the candidate explosion grows with R^2, so re-running the
        # satisfied majority at the doubled radius would dominate the job.
        # Keep this round's proven top-k rows, anti-join the satisfied ids
        # out of the query side, and expand the ring only for the rest
        # (including queries with zero candidates so far).
        if n_ok > 0:
            # id-only exchanges: the semi/anti joins move point ids, never
            # candidate rows (broadcast left to the planner — at real scale
            # ok_ids is O(queries) and must be allowed to shuffle)
            ok_ids = per.filter(ok_expr).select("point_id")
            done.append(topk.join(ok_ids, "point_id", "semi"))
            qleft = qleft.join(ok_ids, "point_id", "anti")
            n_left -= n_ok
        else:
            topk.unpersist()
        radius = min(radius * 2, max_radius)
    raise RuntimeError(f"knn_join did not converge within radius {max_radius}")
