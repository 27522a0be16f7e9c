"""kNN via cell-ring expansion (north rule; absent in the reference —
SURVEY.md §2.3 maps it to iterative ring joins + window top-k).

Algorithm (distributed; the driver only steers ring radii):

1. For each query point, enumerate grid cells within Chebyshev ring
   radius r of its cell (driver-side numpy over the tiny query set,
   broadcast as a (query_id, cell_id) candidate map).
2. Equijoin docs.cell_id against the candidate map (broadcast hash
   join — the big side never shuffles), compute exact squared
   distance, count candidates per query.
3. If any query has < k candidates, grow r (doubling) and repeat.
4. Correctness radius: the kth-nearest candidate at ring r is only
   guaranteed correct if its distance <= r * min(cell_w, cell_h)
   (a nearer point could hide in ring r+1 otherwise). Expand to the
   radius implied by the kth distance, re-join once, then take the
   final window top-k ordered by (dist2, doc_id).

The final top-k is row_number() over (query_id ORDER BY dist2,
doc_id) — deterministic under ties. With skewed docs the per-query
candidate sets stay bounded by ring size, so the shuffle in the
window stage is tiny regardless of the hot-spot cell.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fixtures
from ..constants import GRID_N, XSPAN, YSPAN
from ..session import local_frame

CELL_W = XSPAN / GRID_N
CELL_H = YSPAN / GRID_N
_MIN_SPAN = min(CELL_W, CELL_H)


def _query_cells(queries) -> dict[int, tuple[int, int]]:
    """query_id -> (cx, cy) grid cell (same floor math as the engine)."""
    from ..constants import GRID_INV_X, GRID_INV_Y, XMIN, YMIN

    out = {}
    for q in queries:
        cx = min(max(int(np.floor((q["lon"] - XMIN) * GRID_INV_X)), 0), GRID_N - 1)
        cy = min(max(int(np.floor((q["lat"] - YMIN) * GRID_INV_Y)), 0), GRID_N - 1)
        out[q["id"]] = (cx, cy)
    return out


def _ring_candidates(spark: SparkSession, queries, radii: dict[int, int]) -> DataFrame:
    """(query_id, cell_id) pairs for all cells within each query's
    ring, generated DISTRIBUTED: the driver ships only one
    (query_id, cx, cy, r) row per query and the up-to-(2r+1)^2 cells
    expand executor-side via sequence + explode — with sparse data the
    correctness radius can approach GRID_N, i.e. GRID_N^2 cells per
    query, which must never be built row-by-row on the driver."""
    qcells = _query_cells(queries)
    rows = [
        (qid, qcells[qid][0], qcells[qid][1], r) for qid, r in radii.items()
    ]
    qdf = local_frame(spark, rows, "query_id int, cx int, cy int, r int")
    # one generator per projection: chain the two explodes
    xs = qdf.select(
        "query_id", "cy", "r",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("cx") - F.col("r")),
                F.least(F.lit(GRID_N - 1), F.col("cx") + F.col("r")),
            )
        ).alias("x"),
    )
    return xs.select(
        "query_id", "x",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("cy") - F.col("r")),
                F.least(F.lit(GRID_N - 1), F.col("cy") + F.col("r")),
            )
        ).alias("y"),
    ).select(
        "query_id",
        (F.col("x").cast("long") * F.lit(GRID_N) + F.col("y")).alias("cell_id"),
    )


def knn(
    spark: SparkSession,
    docs_pts: DataFrame,
    queries=None,
    k: int = 5,
    start_radius: int = 1,
    max_radius: int = GRID_N,
) -> DataFrame:
    """docs_pts: DataFrame with (doc_id, lon, lat, cell_id).
    queries: [{'id', 'lon', 'lat'}, ...] (defaults to the fixture
    points). Returns (query_id, rank, doc_id, dist2)."""
    queries = queries if queries is not None else fixtures.POINTS
    qdf_rows = [(q["id"], q["lon"], q["lat"]) for q in queries]
    qdf = local_frame(spark, qdf_rows, "query_id int, qlon double, qlat double")

    docs_pts = docs_pts.select("doc_id", "lon", "lat", "cell_id")

    # pass 1: ONE distributed agg — per-cell histogram (stays a
    # DataFrame, never collected: a global fine grid would bloat the
    # driver) joined against the broadcast query cells, reduced to
    # per-(query, Chebyshev-radius) totals. Only O(queries x GRID_N)
    # rows reach the driver; ring growth is then pure driver
    # arithmetic over the cumulative counts — no repeated scans.
    qcells = _query_cells(queries)
    qc = local_frame(
        spark,
        [(qid, cx, cy) for qid, (cx, cy) in qcells.items()],
        "query_id int, qcx int, qcy int",
    )
    hist_df = docs_pts.groupBy("cell_id").agg(F.count("*").alias("n"))
    per_ring = (
        hist_df.withColumn("cx", (F.col("cell_id") / GRID_N).cast("int"))
        .withColumn("cy", (F.col("cell_id") % GRID_N).cast("int"))
        .crossJoin(F.broadcast(qc))
        .select(
            "query_id",
            F.greatest(
                F.abs(F.col("cx") - F.col("qcx")),
                F.abs(F.col("cy") - F.col("qcy")),
            ).alias("cheb"),
            "n",
        )
        .groupBy("query_id", "cheb")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    ring_counts: dict[int, dict[int, int]] = {}
    for row in per_ring:
        ring_counts.setdefault(int(row["query_id"]), {})[int(row["cheb"])] = int(
            row["n"]
        )
    diag = float(np.hypot(CELL_W, CELL_H))

    radii = {}
    for q in queries:
        counts = ring_counts.get(q["id"], {})
        # smallest Chebyshev radius whose cells hold >= k docs (same
        # doubling schedule as the ring-expansion contract)
        r = start_radius
        while r < max_radius:
            total = sum(n for cheb, n in counts.items() if cheb <= r)
            if total >= k:
                break
            r += max(1, r)  # grow ~2x
        # correctness radius: the kth neighbor among ring-r candidates
        # is at distance <= (r + 1) * diag from the query cell, so any
        # true neighbor lies within that distance -> Chebyshev radius
        max_dist = (r + 1) * diag
        radii[q["id"]] = min(max_radius, int(np.ceil(max_dist / _MIN_SPAN)) + 1)

    # pass 2: single candidate join with the final per-query rings
    cand = _ring_candidates(spark, queries, radii)
    j = docs_pts.join(F.broadcast(cand), "cell_id").join(F.broadcast(qdf), "query_id")
    dx = F.col("lon") - F.col("qlon")
    dy = F.col("lat") - F.col("qlat")
    final = j.withColumn("dist2", dx * dx + dy * dy)
    w = Window.partitionBy("query_id").orderBy("dist2", "doc_id")
    return (
        final.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "dist2")
    )
