"""Spatial joins: cell-cover prefilter (Z2 equi-join) + exact vectorized refine.

Re-expresses the reference's grid-partition + sweepline join
(geomesa-spark-sql GeoMesaJoinRelation.scala:41-91, RelationUtils.grid:30-70)
as idiomatic DataFrame ops:

1. Both sides get Z2 cell keys at a fixed level L (the reference's grid
   envelopes become statically-defined SFC cells, so both sides are always
   "partitioned compatibly" and the reference's ``cover`` repartition problem
   disappears).
2. Points map to exactly ONE cell; extended geometries explode to all cells
   covering their (expanded) bbox. The equi-join on the cell key is the
   prefilter — Catalyst plans a shuffled hash join (or broadcast when the
   polygon side is small), AQE handles skewed cells at runtime.
3. One Arrow-batched refine (``_refine_udf``) evaluates the exact
   predicate per candidate pair for every join. Per batch it decodes each
   distinct right geometry once (shipped as WKB, or as a pid resolved
   through a broadcast dict), groups the rows by it and picks a vectorized
   test from the left kind (point, declared rect or WKB), the right shape
   and the predicate: PIP for points, rect/SAT/box-vs-rings for rects.
   Only concave or multi-part survivors reach the per-pair DE-9IM kernel.

Pair dedup: a point occupies one cell, so point-joins produce each pair at
most once (no dedup shuffle needed — unlike the reference, which duplicates
both sides and leaves a TODO at RelationUtils.scala:38). Extended x extended
joins use the report-once rule — each pair is emitted only in its canonical
cell (max of the per-axis cover minima) — so they need no dedup either.

Skew: pass ``salt=N`` to spread a hot cell over N shuffle keys (the
reference's shard byte, ShardStrategy.scala:42-83); AQE skew-join is the
backstop. At 10^12-row scale prefer level>=8 so cells are granular enough
for AQE to split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StructField, StructType,
)

from ..curves import zexpr
from ..curves.zorder import z2_encode
from ..curves.norm import normalized_lat, normalized_lon
from ..geom import kernels as K
from ..geom import measures as M
from ..geom.wkb import Point, Polygon, wkb_batch_envrect, wkb_read
from ..functions.registry import dwithin_geoms

DEFAULT_LEVEL = 8  # 2^8 x 2^8 world grid; cells ~1.4 x 0.7 degrees

_LON = normalized_lon(31)
_LAT = normalized_lat(31)


def with_point_cell(df: DataFrame, x: str, y: str, level: int,
                    wrap_lon: bool = False) -> DataFrame:
    """The point side of a cell equi-join: ``df`` plus the Z2 cell of
    (``x``, ``y``) at ``level`` as ``__cell__`` (curves/zexpr.py, inside
    whole-stage codegen).

    A row with a null coordinate has no cell and can never match, so it
    is dropped. The cell is then keyed from coalesced coordinates, which
    makes it non-nullable: a nullable join key gets an inferred
    ``isnotnull`` filter that the optimizer pushes down through the
    key's projections, inlining its normalization 2^steps times.
    ``wrap_lon`` keys the cell from :func:`wrapped_lon` of ``x``, inside
    the coalesce for the same reason (its CASE is nullable)."""
    keep = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
    kx = F.coalesce(wrapped_lon(F.col(x)) if wrap_lon else F.col(x), F.lit(0.0))
    return zexpr.with_z2(keep, "__cell__", kx,
                         F.coalesce(F.col(y), F.lit(0.0)), level)


def wrapped_lon(x: Column) -> Column:
    """A longitude outside +-180 wrapped into the world,
    ``((x + 180) mod 360) - 180``: on the sphere lon 250 is lon -110,
    where clamping would key it into the +180 edge column."""
    return F.when((x < -180.0) | (x > 180.0),
                  F.pmod(x + 180.0, F.lit(360.0)) - 180.0).otherwise(x)


def _grid_of_bbox(xmin, ymin, xmax, ymax, level: int):
    """Per-dimension Z2 grid index ranges (i0, i1, j0, j1) at ``level`` of
    bbox arrays, clamped into the world (the numpy twin of
    zexpr.lon_cell/lat_cell)."""
    shift = 31 - level
    return tuple((dim.normalize(np.clip(v, dim.min, dim.max)) >> shift).astype(np.int64)
                 for dim, v in ((_LON, xmin), (_LON, xmax), (_LAT, ymin), (_LAT, ymax)))


def cells_of_bbox_arrays(xmin, ymin, xmax, ymax, level: int):
    """Vectorized bbox -> list of covering cell ids (python list per row).

    A row with a non-finite bound (a null coordinate or radius arrives
    as NaN in an Arrow batch) covers no cell: cast to int64 it would
    land in arbitrary cells."""
    box = [np.asarray(v, dtype=np.float64) for v in (xmin, ymin, xmax, ymax)]
    ok = np.logical_and.reduce([np.isfinite(v) for v in box])
    ix0, ix1, iy0, iy1 = _grid_of_bbox(*(np.where(ok, v, 0.0) for v in box), level)
    out = []
    for good, a, b, c, d in zip(ok, ix0, ix1, iy0, iy1):
        if not good:
            out.append([])
            continue
        xs = np.arange(a, b + 1, dtype=np.int64)
        ys = np.arange(c, d + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        out.append([int(v) for v in z2_encode(gx.ravel(), gy.ravel())])
    return out


def cells_of_disk_arrays(xs, ys, rlon, rlat, level: int):
    """Covering cells of per-point expanded bboxes WITH antimeridian wrap.

    A window crossing the +-180 line splits into two windows (the
    reference's IDL handling, FilterHelper.addWayPointsToBBOX /
    st_antimeridianSafeGeom semantics); cell lists are merged per row.
    """
    base = cells_of_bbox_arrays(xs - rlon, ys - rlat, xs + rlon, ys + rlat, level)
    lo = xs - rlon
    hi = xs + rlon
    wrap_lo = lo < -180.0
    wrap_hi = hi > 180.0
    if np.any(wrap_lo):
        idx = np.where(wrap_lo)[0]
        extra = cells_of_bbox_arrays(lo[idx] + 360.0, (ys - rlat)[idx],
                                     np.full(len(idx), 180.0), (ys + rlat)[idx], level)
        for k, i in enumerate(idx):
            base[i] = sorted(set(base[i]) | set(extra[k]))
    if np.any(wrap_hi):
        idx = np.where(wrap_hi)[0]
        extra = cells_of_bbox_arrays(np.full(len(idx), -180.0), (ys - rlat)[idx],
                                     hi[idx] - 360.0, (ys + rlat)[idx], level)
        for k, i in enumerate(idx):
            base[i] = sorted(set(base[i]) | set(extra[k]))
    return base


def sphere_expand_degrees(ys, radius_m):
    """Conservative meters -> per-dim degree expansion at each latitude.

    radius_m may be a scalar or a per-row array. The longitude expansion
    is evaluated at the radius-expanded latitude so the cover is a true
    superset of the spherical disk. Both divisors are BELOW the sphere's
    actual meters-per-degree (R*pi/180 = 111,194.93 for R=6371008.7714),
    so the expansion strictly over-covers — an under-expanded window
    would silently drop matching rows from the prefilter.
    """
    ys = np.asarray(ys, dtype=np.float64)
    r = np.broadcast_to(np.asarray(radius_m, dtype=np.float64), ys.shape)
    rlat = r / 110_540.0
    # a disk reaching toward a pole spans rapidly widening longitudes —
    # clamping phi below 90 would UNDER-cover there (drop true matches);
    # instead let cos -> 0 blow the window up and cap at the full wrap
    # (180 deg covers every longitude; cells_of_disk_arrays clips it)
    phi = np.minimum(np.abs(ys) + rlat, 90.0)
    cosphi = np.cos(np.radians(phi))  # cos(radians(90)) ~ 6e-17 > 0
    rlon = np.minimum(r / (110_540.0 * cosphi), 180.0)
    return rlon, rlat


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of the optimized plan — the statistic
    Spark's own broadcast-join decision reads (SparkStrategies /
    JoinSelection canBroadcastBySize). Errs huge on failure so callers
    fall back to the shuffle path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _explode_bbox_ij(df: DataFrame, x0, y0, x1, y1, level: int,
                     tag: str) -> DataFrame:
    """Explode each row to its covering raw (gi, gj) grid pairs — entirely
    inside whole-stage codegen (two sequence-explodes), zero Python — plus
    this row's (gi0, gj0) range minima (named __{tag}gi0__/__{tag}gj0__).
    The minima drive the report-once rule with FOUR integer comparisons:
    the grid index is monotonic in the coordinate, so the canonical cell
    of a pair is simply (max of the two gi0, max of the two gj0) — cheap
    enough to stay fast even when a downstream Python-UDF stage knocks
    the join out of whole-stage codegen."""
    gi0, gi1 = zexpr.lon_cell(x0, level), zexpr.lon_cell(x1, level)
    gj0, gj1 = zexpr.lat_cell(y0, level), zexpr.lat_cell(y1, level)
    return (df.withColumn(f"__{tag}gi0__", gi0)
              .withColumn(f"__{tag}gj0__", gj0)
              .withColumn("__gi__", F.explode(F.sequence(F.col(f"__{tag}gi0__"), gi1)))
              .withColumn("__gj__", F.explode(F.sequence(F.col(f"__{tag}gj0__"), gj1))))


def _cells_ij_of_geom(level: int = DEFAULT_LEVEL, expand_m: float | None = None):
    """pandas UDF: WKB geometry -> (gi, gj) covering grid-pair arrays
    + the range minima + the (expanded) envelope, for geometry sides
    without envelope sidecars. ``expand_m`` expands per row with the
    latitude-aware degree equivalent (sphere_expand_degrees)."""
    schema = StructType([
        StructField("gis", ArrayType(LongType())),
        StructField("gjs", ArrayType(LongType())),
        StructField("gi0", LongType()),
        StructField("gj0", LongType()),
        StructField("bx0", DoubleType()),
        StructField("by0", DoubleType()),
        StructField("bx1", DoubleType()),
        StructField("by1", DoubleType()),
    ])
    @pandas_udf(schema)
    def cover(s: pd.Series) -> pd.DataFrame:
        n = len(s)
        xmin = np.empty(n)
        ymin = np.empty(n)
        xmax = np.empty(n)
        ymax = np.empty(n)
        null = np.zeros(n, dtype=bool)
        for i, v in enumerate(s):
            if v is None:
                null[i] = True
                xmin[i] = ymin[i] = xmax[i] = ymax[i] = 0.0
                continue
            e = wkb_read(bytes(v)).envelope()
            xmin[i], ymin[i], xmax[i], ymax[i] = e
        if expand_m is not None:
            ys_eff = np.maximum(np.abs(ymin), np.abs(ymax))
            rlon, rlat = sphere_expand_degrees(ys_eff, expand_m)
            xmin, xmax = xmin - rlon, xmax + rlon
            ymin, ymax = ymin - rlat, ymax + rlat
            # window crossing the antimeridian: widen to the full lon
            # range instead of splitting — the report-once canonical-cell
            # rule needs CONTIGUOUS per-row covers (a two-piece cover can
            # place the canonical cell outside one side's cover and drop
            # the pair); the envelope sidecar opens with it, and the
            # refine resolves the +-360 shift exactly
            wrap = (xmin < -180.0) | (xmax > 180.0)
            xmin = np.where(wrap, -180.0, xmin)
            xmax = np.where(wrap, 180.0, xmax)
        ix0, ix1, iy0, iy1 = _grid_of_bbox(xmin, ymin, xmax, ymax, level)
        gis, gjs = [], []
        for k in range(n):
            if null[k]:
                gis.append(None)
                gjs.append(None)
                continue
            gx, gy = np.meshgrid(np.arange(ix0[k], ix1[k] + 1, dtype=np.int64),
                                 np.arange(iy0[k], iy1[k] + 1, dtype=np.int64))
            gis.append([int(v) for v in gx.ravel()])
            gjs.append([int(v) for v in gy.ravel()])
        return pd.DataFrame({"gis": gis, "gjs": gjs,
                             "gi0": ix0.tolist(), "gj0": iy0.tolist(),
                             "bx0": xmin, "by0": ymin,
                             "bx1": xmax, "by1": ymax})

    return cover


def _is_axis_rect(geom) -> tuple | None:
    """(xmin, ymin, xmax, ymax) if geom is an axis-aligned rectangle ring."""
    if not isinstance(geom, Polygon) or len(geom.rings) != 1:
        return None
    r = geom.rings[0]
    if len(r) != 5:
        return None
    e = geom.envelope()
    xs = set(float(v) for v in r[:, 0])
    ys = set(float(v) for v in r[:, 1])
    if xs == {e[0], e[2]} and ys == {e[1], e[3]}:
        return e
    return None


_CELL_FLAG_TYPE = ArrayType(StructType([
    StructField("c", LongType()), StructField("full", BooleanType()),
]))

# margin (degrees) >> the ~1e-13 deg fp window of the floor normalization,
# so a boundary-misassigned point can never be wrongly fast-accepted
_FULL_EPS = 1e-9


def _full_cells_polygon(geom: Polygon, cells: np.ndarray, level: int) -> np.ndarray:
    """Which covering cells lie STRICTLY inside the polygon (holes honored).

    Exact + conservative: a cell is full iff its eps-expanded rect is
    crossed by no ring edge AND its center is in the open interior. The
    edge/rect test is the standard segment-vs-AABB separating test
    (bbox overlap + rect corners straddling the edge line), vectorized
    over (cells x edges); degenerate touches count as crossings, so any
    error is toward full=False (never a wrong fast-accept).
    """
    from ..curves.zorder import z2_decode

    ix, iy = z2_decode(cells)
    sx = 360.0 / (1 << level)
    sy = 180.0 / (1 << level)
    x0 = -180.0 + ix * sx
    y0 = -90.0 + iy * sy
    rx0, ry0 = x0 - _FULL_EPS, y0 - _FULL_EPS
    rx1, ry1 = x0 + sx + _FULL_EPS, y0 + sy + _FULL_EPS

    loc = K.pip_rings(x0 + sx / 2.0, y0 + sy / 2.0, geom.rings)
    full = loc == 1
    if not full.any():
        return full

    for ring in geom.rings:
        ex0, ey0 = ring[:-1, 0], ring[:-1, 1]
        ex1, ey1 = ring[1:, 0], ring[1:, 1]
        bx0, bx1 = np.minimum(ex0, ex1), np.maximum(ex0, ex1)
        by0, by1 = np.minimum(ey0, ey1), np.maximum(ey0, ey1)
        ov = ((bx0[None, :] <= rx1[:, None]) & (bx1[None, :] >= rx0[:, None])
              & (by0[None, :] <= ry1[:, None]) & (by1[None, :] >= ry0[:, None]))
        if not ov.any():
            continue
        dx, dy = (ex1 - ex0)[None, :], (ey1 - ey0)[None, :]
        c1 = dx * (ry0[:, None] - ey0[None, :]) - dy * (rx0[:, None] - ex0[None, :])
        c2 = dx * (ry0[:, None] - ey0[None, :]) - dy * (rx1[:, None] - ex0[None, :])
        c3 = dx * (ry1[:, None] - ey0[None, :]) - dy * (rx0[:, None] - ex0[None, :])
        c4 = dx * (ry1[:, None] - ey0[None, :]) - dy * (rx1[:, None] - ex0[None, :])
        one_side = (((c1 > 0) & (c2 > 0) & (c3 > 0) & (c4 > 0))
                    | ((c1 < 0) & (c2 < 0) & (c3 < 0) & (c4 < 0)))
        full &= ~(ov & ~one_side).any(axis=1)
        if not full.any():
            break
    return full


def _flagged_cover_of_wkb(wkb: bytes, level: int):
    """(cells:int64[], full:bool[]) covering one WKB geometry."""
    g = wkb_read(wkb)
    e = g.envelope()
    cells = cells_of_bbox_arrays(
        np.array([e[0]]), np.array([e[1]]), np.array([e[2]]), np.array([e[3]]),
        level)[0]
    arr = np.array(cells, dtype=np.int64)
    rect = _is_axis_rect(g)
    if rect is not None:
        from ..curves.zorder import z2_decode
        ix, iy = z2_decode(arr)
        sx = 360.0 / (1 << level)
        sy = 180.0 / (1 << level)
        cx0 = -180.0 + ix * sx
        cy0 = -90.0 + iy * sy
        full = ((cx0 > rect[0] + _FULL_EPS) & (cx0 + sx < rect[2] - _FULL_EPS)
                & (cy0 > rect[1] + _FULL_EPS) & (cy0 + sy < rect[3] - _FULL_EPS))
    elif isinstance(g, Polygon):
        full = _full_cells_polygon(g, arr, level)
    else:
        full = np.zeros(len(arr), dtype=bool)
    return arr, full


def cells_of_geom_flagged(level: int = DEFAULT_LEVEL):
    """pandas UDF: WKB -> array<struct<c, full>> covering cells.

    ``full`` marks cells whose bbox lies strictly inside the geometry —
    every point in such a cell satisfies contains/within/intersects/covers
    without the exact kernel. This is the reference's loose-bbox /
    useFullFilter optimization (Z2IndexKeySpace.scala:129-141: skip exact
    re-check for rectangular predicates) generalized to per-cell flags
    for ARBITRARY polygons (holes included) via the segment-vs-cell test
    in :func:`_full_cells_polygon`; axis rects keep the 4-comparison fast
    path. Non-polygon geometries get full=False everywhere.
    """

    @pandas_udf(_CELL_FLAG_TYPE)
    def cover(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            arr, full = _flagged_cover_of_wkb(bytes(v), level)
            out.append([{"c": int(c), "full": bool(f)} for c, f in zip(arr, full)])
        return pd.Series(out, dtype=object)

    return cover


def _auto_level(wkbs, target_cells_across: float = 16.0,
                max_broadcast_cells: int = 4_000_000,
                lo: int = 8, hi: int = 14) -> int:
    """Pick the join cell level from the polygon size distribution.

    Finer cells raise the interior (full-cell) fast-accept fraction —
    boundary cells scale with perimeter, interior with area — but each
    level quadruples the exploded broadcast rows; back off until the
    estimated cell-row count fits the broadcast budget.
    """
    exts = [max(e[2] - e[0], e[3] - e[1])
            for e in (wkb_read(w).envelope() for w in wkbs)]
    if not exts:
        return 10
    med = float(np.median(exts))
    if med <= 0:
        return hi
    lvl = int(np.ceil(np.log2(max(360.0 * target_cells_across / med, 2.0))))
    lvl = min(max(lvl, lo), hi)
    while lvl > lo:
        cell = 360.0 / (1 << lvl)
        if len(exts) * (med / cell + 1.0) ** 2 <= max_broadcast_cells:
            break
        lvl -= 1
    return lvl


class PreparedPipPolys:
    """Broadcast-side PIP index built once and reused across joins.

    The reference amortizes index construction across queries (the store's
    Z-curve keys are written at ingest); this is the same separation for
    the broadcast join path: collect distinct polygons, choose the cell
    level, compute the (pid, cell, full) cover DRIVER-side in numpy (a few
    ms per thousand polygons — far cheaper than a distributed explode +
    collect round-trip), and keep the broadcast dict + a small Arrow-backed
    cells DataFrame ready.
    """

    def __init__(self, spark, pmap: dict, level: int, cells_df: DataFrame,
                 geoms_df: DataFrame, any_full: bool):
        self.spark = spark
        self.pmap = pmap
        self.level = level
        self.cells_df = cells_df
        self.geoms_df = geoms_df
        self.any_full = any_full
        self.bmap = spark.sparkContext.broadcast(pmap)

    def release(self) -> None:
        """Free executor-side state (persisted join-back cache + the
        geometry broadcast). Call when done querying this polygon set —
        long-running services preparing many sets would otherwise pin
        storage for the session lifetime."""
        self.geoms_df.unpersist()
        self.bmap.unpersist()


def prepare_pip_polys(polys: DataFrame, poly_geom: str = "geom",
                      level: int | None = None,
                      use_full_cells: bool = True) -> PreparedPipPolys:
    """``use_full_cells=False`` disables the interior fast-accept: every
    candidate goes through the exact kernel (the reference's full-filter
    mode, i.e. loose-bbox off — also the kernel-bound benchmark shape)."""
    spark = polys.sparkSession
    # null geometries can never match (null-in/null-out contract)
    pls = (polys.filter(F.col(poly_geom).isNotNull())
                .withColumn("__pid__", F.xxhash64(F.col(poly_geom))))
    pmap = {r[0]: bytes(r[1])
            for r in pls.select("__pid__", poly_geom).distinct().collect()}
    if level is None:
        level = _auto_level(pmap.values())
    pids, cells, fulls = [], [], []
    any_full = False
    for pid, w in pmap.items():
        arr, full = _flagged_cover_of_wkb(w, level)
        if not use_full_cells:
            full = np.zeros(len(arr), dtype=bool)
        pids.append(np.full(len(arr), pid, dtype=np.int64))
        cells.append(arr)
        fulls.append(full)
        any_full = any_full or bool(full.any())
    pdf = pd.DataFrame({
        "__pid__": np.concatenate(pids) if pids else np.empty(0, np.int64),
        "__cell__": np.concatenate(cells) if cells else np.empty(0, np.int64),
        "__full__": np.concatenate(fulls) if fulls else np.empty(0, bool),
    })
    cells_df = spark.createDataFrame(
        pdf, schema="__pid__ long, __cell__ long, __full__ boolean")
    # all original polygon ROWS ride along the final join-back (keyed by
    # geometry hash, NOT deduped: two rows with identical geometry but
    # different attributes must each emit a match, exactly as a plain
    # join would); persist + materialize so repeated joins don't re-run
    # the polygon source (it may be a generator/scan) for every query
    geoms_df = pls.persist()
    geoms_df.count()
    return PreparedPipPolys(spark, pmap, level, cells_df, geoms_df, any_full)


_PIP_PREDICATES = ("st_contains", "st_within", "st_covers", "st_intersects")


def pip_join(
    points: DataFrame,
    polys: DataFrame | PreparedPipPolys,
    point_x: str,
    point_y: str,
    poly_geom: str,
    predicate: str = "st_contains",
    level: int | None = None,
    broadcast_polys: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """Point-in-polygon join: points(x, y) x polys(wkb geometry).

    Returns the inner-joined DataFrame (all columns from both sides).
    predicate: st_contains / st_covers / st_intersects / st_within
    (for points these differ only in boundary handling).

    ``level=None`` auto-tunes the cell size on the broadcast path: target
    ~16 cells across the median polygon extent (maximizes the interior
    fast-accept fraction — measured 2x throughput vs level 10 on ~1.5-degree
    polygons), backed off until the exploded broadcast side stays under
    ~4M cell rows. Non-broadcast defaults to level 10.

    Each point hits exactly one cell -> no pair dedup shuffle needed.

    Broadcast path (small polygon side): the join ships only a polygon id
    + containment flag; geometries reach the Python refine workers once,
    via a Spark broadcast dict — never per candidate row. Interior-cell
    candidates (full=true) bypass Python entirely; only boundary-cell
    candidates cross the Arrow boundary. This is the shape that scales:
    Arrow traffic ~25 bytes/candidate instead of the full WKB.

    Any other predicate raises ValueError: the refine answers only the
    point-in-polygon test (strict or closed), so e.g. st_disjoint would
    return the covered points.
    """
    if predicate not in _PIP_PREDICATES:
        raise ValueError(f"pip_join predicate must be one of "
                         f"{', '.join(_PIP_PREDICATES)}, got {predicate!r}")
    prepared = polys if isinstance(polys, PreparedPipPolys) else None
    if prepared is not None:
        level = prepared.level
    elif broadcast_polys:
        prepared = prepare_pip_polys(polys, poly_geom, level)
        level = prepared.level
    elif level is None:
        level = 10

    pts = with_point_cell(points, point_x, point_y, level)

    if salt and salt > 1:
        salt_pt = F.pmod(F.xxhash64(F.col(point_x), F.col(point_y)), F.lit(salt))
        salt_pl = F.explode(F.array([F.lit(i) for i in range(salt)]))
        join_keys = ["__cell__", "__salt__"]
        pts = pts.withColumn("__salt__", salt_pt)
    else:
        join_keys = ["__cell__"]

    if prepared is not None:
        pls_k = prepared.cells_df
        if salt and salt > 1:
            pls_k = pls_k.withColumn("__salt__", salt_pl)
        cand = pts.join(F.broadcast(pls_k), on=join_keys, how="inner")
        refine = _refine_udf(predicate, "point", right_bmap=prepared.bmap)
        test = refine(F.col(point_x), F.col(point_y), F.col("__pid__"))
        if prepared.any_full:
            # interior candidates never cross the Arrow boundary
            out = cand.filter(F.col("__full__")).unionByName(
                cand.filter(~F.col("__full__")).filter(test))
        else:
            out = cand.filter(test)
        # restore the polygon attribute columns
        out = (out.join(F.broadcast(prepared.geoms_df), on="__pid__", how="inner")
                  .drop("__pid__", "__full__"))
        return out.drop("__cell__", "__salt__") if salt else out.drop("__cell__")

    cover = cells_of_geom_flagged(level)
    pls = (polys.withColumn("__cf__", F.explode(cover(F.col(poly_geom))))
                .withColumn("__cell__", F.col("__cf__.c"))
                .withColumn("__full__", F.col("__cf__.full"))
                .drop("__cf__"))
    if salt and salt > 1:
        pls = pls.withColumn("__salt__", salt_pl)

    cand = pts.join(pls, on=join_keys, how="inner")
    refine = _refine_udf(predicate, "point")
    out = cand.filter(refine(F.col(point_x), F.col(point_y), F.col(poly_geom),
                             F.col("__full__")))
    out = out.drop("__full__")
    return out.drop("__cell__", "__salt__") if salt else out.drop("__cell__")


def recommend_salt(points: DataFrame, x: str, y: str,
                   level: int = DEFAULT_LEVEL, max_salt: int = 64,
                   sample_rows: int = 1_000_000) -> int:
    """Pick a salt factor from the observed per-cell histogram.

    The explicit analog of the reference's shard byte (ShardStrategy
    .scala:42-83, default 4): salt so the hottest cell splits into chunks
    no larger than ~4x the mean cell population. Computed on a bounded
    sample; the same histogram is persisted per stage by
    plans.checkpoint (cell_histogram) so production runs can reuse it
    without a rescan. AQE skew-join remains the runtime backstop.
    """
    cells = zexpr.with_z2(points, "c", x, y, level).select("c").limit(sample_rows)
    hist = cells.groupBy("c").count()
    row = hist.agg(F.max("count").alias("mx"), F.avg("count").alias("avg")).collect()[0]
    if row["avg"] is None or row["avg"] == 0:
        return 1
    salt = int(row["mx"] / (4.0 * row["avg"])) + 1
    return max(1, min(max_salt, salt))


def dwithin_join_points(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    lx: str, ly: str, rx: str, ry: str,
    metric: str = "degrees",
    level: int = DEFAULT_LEVEL,
    broadcast_right: bool = False,
) -> DataFrame:
    """Point x point distance join: pairs with dist(l, r) < radius.

    The proximity-join analog (geomesa-process ProximitySearchProcess.scala:25,
    CQL DWITHIN semantics GeometryProcessing.scala:143-146): the right side
    explodes to the Z2 cells covering its radius-expanded bbox, the left
    keeps its single point cell — equi-join prefilter, exact vectorized
    distance refine. metric 'degrees' = cartesian (st_distance), 'sphere' =
    haversine meters (st_distanceSphere two-stage accept).
    """
    @pandas_udf(ArrayType(LongType()))
    def cover_pt(x: pd.Series, y: pd.Series) -> pd.Series:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        if metric == "sphere":
            rlon, rlat = sphere_expand_degrees(ys, radius)
        else:
            rlon = rlat = np.full_like(xs, radius)
        return pd.Series(cells_of_disk_arrays(xs, ys, rlon, rlat, level),
                         dtype=object)

    l = with_point_cell(left, lx, ly, level)
    r = right.withColumn("__cell__", F.explode(cover_pt(F.col(rx), F.col(ry))))
    rr = F.broadcast(r) if broadcast_right else r
    cand = l.join(rr, on="__cell__", how="inner").drop("__cell__")

    if metric == "degrees":
        dist = F.sqrt((F.col(lx) - F.col(rx)) * (F.col(lx) - F.col(rx))
                      + (F.col(ly) - F.col(ry)) * (F.col(ly) - F.col(ry)))
    else:
        from ..geom.measures import haversine_col

        dist = haversine_col(F.col(lx), F.col(ly), F.col(rx), F.col(ry))
    return cand.withColumn("dist", dist).filter(F.col("dist") < radius)


def dwithin_join_rects(
    points: DataFrame,
    rects: DataFrame,
    radius: float,
    px: str, py: str,
    rx0: str, ry0: str, rx1: str, ry1: str,
    level: int = DEFAULT_LEVEL,
    broadcast_rects: bool = False,
) -> DataFrame:
    """Point x axis-rect DWITHIN join: pairs with dist(point, rect) <
    ``radius`` in the cartesian degrees metric — the extended-geometry
    proximity join (CQL DWITHIN against non-point geometries,
    GeometryProcessing.scala:143-146 semantics, the reference's
    buffered-envelope prefilter + exact-distance refine two-stage).

    Point-to-closed-rect distance is the closed form
    ``hypot(max(0, x0-p, p-x1), max(0, y0-p, p-y1))`` — zero inside,
    edge-normal outside — so the refine is four greatest() + one sqrt
    in pure whole-stage codegen; the only Python is the per-rect cell
    cover of the radius-EXPANDED envelope (antimeridian-wrap aware via
    the shared disk-cover kernel), Arrow-batched at build time.

    Scale shape: identical to :func:`dwithin_join_points` — rects
    explode to covering cells (bounded by rect size + radius at
    ``level``), points keep their single Z2 cell key in codegen, one
    equi-join prefilter (broadcast when the rect side is small), exact
    refine. Returns all columns + ``dist``.
    """
    @pandas_udf(ArrayType(LongType()))
    def cover_rect(x0: pd.Series, y0: pd.Series, x1: pd.Series,
                   y1: pd.Series) -> pd.Series:
        ax0 = x0.to_numpy(np.float64)
        ay0 = y0.to_numpy(np.float64)
        ax1 = x1.to_numpy(np.float64)
        ay1 = y1.to_numpy(np.float64)
        cx, cy = (ax0 + ax1) / 2.0, (ay0 + ay1) / 2.0
        rlon = (ax1 - ax0) / 2.0 + radius
        rlat = (ay1 - ay0) / 2.0 + radius
        return pd.Series(cells_of_disk_arrays(cx, cy, rlon, rlat, level),
                         dtype=object)

    p = with_point_cell(points, px, py, level)
    r = rects.withColumn("__cell__", F.explode(
        cover_rect(F.col(rx0), F.col(ry0), F.col(rx1), F.col(ry1))))
    rr = F.broadcast(r) if broadcast_rects else r
    cand = p.join(rr, on="__cell__", how="inner").drop("__cell__")
    dx = F.greatest(F.lit(0.0), F.col(rx0) - F.col(px),
                    F.col(px) - F.col(rx1))
    dy = F.greatest(F.lit(0.0), F.col(ry0) - F.col(py),
                    F.col(py) - F.col(ry1))
    dist = F.sqrt(dx * dx + dy * dy)
    return cand.withColumn("dist", dist).filter(F.col("dist") < radius)


_ENV_REJECT_PREDS = frozenset((
    "st_intersects", "st_contains", "st_within", "st_covers", "st_coveredBy",
    "st_overlaps", "st_touches", "st_crosses", "st_equals"))


def _rect_rect_vec(predicate: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact vectorized DE-9IM predicates for non-degenerate axis rects
    (rows: [x0, y0, x1, y1]). Area-area semantics: containment of the
    closed box implies interior intersection because a rect's boundary
    has no area."""
    inter = ((a[:, 0] <= b[:, 2]) & (b[:, 0] <= a[:, 2])
             & (a[:, 1] <= b[:, 3]) & (b[:, 1] <= a[:, 3]))
    iint = ((a[:, 0] < b[:, 2]) & (b[:, 0] < a[:, 2])
            & (a[:, 1] < b[:, 3]) & (b[:, 1] < a[:, 3]))
    b_in_a = ((a[:, 0] <= b[:, 0]) & (b[:, 2] <= a[:, 2])
              & (a[:, 1] <= b[:, 1]) & (b[:, 3] <= a[:, 3]))
    a_in_b = ((b[:, 0] <= a[:, 0]) & (a[:, 2] <= b[:, 2])
              & (b[:, 1] <= a[:, 1]) & (a[:, 3] <= b[:, 3]))
    return {
        "st_intersects": inter,
        "st_disjoint": ~inter,
        "st_contains": b_in_a,
        "st_covers": b_in_a,
        "st_within": a_in_b,
        "st_coveredBy": a_in_b,
        "st_equals": b_in_a & a_in_b,
        "st_touches": inter & ~iint,
        "st_overlaps": iint & ~b_in_a & ~a_in_b,
        "st_crosses": np.zeros(len(a), dtype=bool),  # area x area never crosses
    }[predicate]


def _rings_of(geom) -> list[np.ndarray]:
    """All rings (outer + holes, every member polygon) or None if the
    geometry is not polygonal."""
    from ..geom.wkb import MultiPolygon
    if isinstance(geom, Polygon):
        return list(geom.rings)
    if isinstance(geom, MultiPolygon):
        return [r for p in geom.geoms for r in p.rings]
    return None


def _rect_poly_intersects_vec(env: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Exact closed-set intersects between axis boxes (rows [x0,y0,x1,y1])
    and ONE polygonal geometry, fully vectorized over the boxes:
    intersects iff (a) some ring vertex lies in the box, or (b) some box
    corner lies in/on the polygon, or (c) some ring edge crosses the box.
    Holes are safe: every ring point/edge belongs to the geometry's
    boundary, and a box strictly inside a hole fails all three tests.
    Comparisons are strict IEEE (no epsilon): inputs whose boundaries
    graze within ~1 ulp may differ from the eps-tolerant DE-9IM kernel —
    a measure-zero band on float data (0/8000 on random inputs)."""
    n = len(env)
    x0, y0, x1, y1 = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
    hit = np.zeros(n, dtype=bool)

    # (a) ring vertices inside the (closed) box
    for ring in rings:
        vx, vy = ring[:, 0], ring[:, 1]
        m = ((vx[None, :] >= x0[:, None]) & (vx[None, :] <= x1[:, None])
             & (vy[None, :] >= y0[:, None]) & (vy[None, :] <= y1[:, None]))
        hit |= m.any(axis=1)

    # (b) box corners in/on the polygon (loc >= 0 = boundary or interior)
    todo = np.where(~hit)[0]
    if len(todo):
        cx = np.concatenate([x0[todo], x0[todo], x1[todo], x1[todo]])
        cy = np.concatenate([y0[todo], y1[todo], y0[todo], y1[todo]])
        loc = K.pip_rings(cx, cy, rings) >= 0
        hit[todo] |= loc.reshape(4, len(todo)).any(axis=0)

    # (c) ring edges crossing the box: AABB overlap + box corners straddle
    # the edge's line (the separating-axis segment/box test), broadcast
    # (edges x boxes) in one pass per ring
    todo = np.where(~hit)[0]
    if len(todo):
        tx0, ty0 = x0[todo][None, :], y0[todo][None, :]
        tx1, ty1 = x1[todo][None, :], y1[todo][None, :]
        acc = np.zeros(len(todo), dtype=bool)
        for ring in rings:
            ax, ay = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
            bx, by = ring[1:, 0][:, None], ring[1:, 1][:, None]
            ov = ((np.minimum(ax, bx) <= tx1) & (tx0 <= np.maximum(ax, bx))
                  & (np.minimum(ay, by) <= ty1) & (ty0 <= np.maximum(ay, by)))
            dx, dy = bx - ax, by - ay
            # cross products of the 4 box corners against each edge line
            c1 = dx * (ty0 - ay) - dy * (tx0 - ax)
            c2 = dx * (ty1 - ay) - dy * (tx0 - ax)
            c3 = dx * (ty0 - ay) - dy * (tx1 - ax)
            c4 = dx * (ty1 - ay) - dy * (tx1 - ax)
            straddle = (np.minimum(np.minimum(c1, c2), np.minimum(c3, c4)) <= 0) \
                & (np.maximum(np.maximum(c1, c2), np.maximum(c3, c4)) >= 0)
            acc |= (ov & straddle).any(axis=0)
            if acc.all():
                break
        hit[todo] = acc
    return hit


def _convex_sat_of(geom):
    """Separating-axis data for a SINGLE-RING CONVEX polygon, or None.

    Returns (normals (E,2), pmin (E,), pmax (E,), envelope (4,)): each
    edge's outward-or-inward normal with the polygon's own projection
    interval onto it (orientation does not matter for interval tests).
    Collinear/zero edges are dropped; a ring whose consecutive edge cross
    products change sign (non-convex) returns None, as do polygons with
    holes or multipolygons (callers fall back to the general kernel)."""
    from ..geom.wkb import MultiPolygon
    if isinstance(geom, MultiPolygon):
        return None
    if not isinstance(geom, Polygon) or len(geom.rings) != 1:
        return None
    ring = geom.rings[0]
    d = ring[1:] - ring[:-1]
    keep = (d[:, 0] != 0.0) | (d[:, 1] != 0.0)
    d = d[keep]
    if len(d) < 2:
        return None
    cross = d[:, 0] * np.roll(d[:, 1], -1) - d[:, 1] * np.roll(d[:, 0], -1)
    if not ((cross >= 0.0).all() or (cross <= 0.0).all()):
        return None
    normals = np.column_stack([-d[:, 1], d[:, 0]])
    proj = ring[:-1] @ normals.T          # (V, E)
    env = np.array([ring[:, 0].min(), ring[:, 1].min(),
                    ring[:, 0].max(), ring[:, 1].max()])
    return normals, proj.min(axis=0), proj.max(axis=0), env


def _box_convex_intersects_vec(env: np.ndarray, sat) -> np.ndarray:
    """Exact closed-set intersects between axis boxes (rows [x0,y0,x1,y1])
    and ONE convex polygon via the separating-axis theorem, vectorized
    over the boxes: separated iff some axis (box x/y or a polygon edge
    normal) strictly separates the projection intervals. ~6 element ops
    per (box, edge) — no point-in-polygon, no edge-crossing phase — vs
    the three-phase general test in _rect_poly_intersects_vec. Same
    strict-IEEE caveat: the center/half-width dot products round, so
    inputs grazing within ~1 ulp may differ from the eps-tolerant DE-9IM
    kernel (measure-zero on float data)."""
    normals, pmin, pmax, penv = sat
    # box axes: plain envelope overlap with the polygon envelope
    sep = ((env[:, 0] > penv[2]) | (env[:, 2] < penv[0])
           | (env[:, 1] > penv[3]) | (env[:, 3] < penv[1]))
    cx = (env[:, 0] + env[:, 2]) * 0.5
    cy = (env[:, 1] + env[:, 3]) * 0.5
    hw = (env[:, 2] - env[:, 0]) * 0.5
    hh = (env[:, 3] - env[:, 1]) * 0.5
    # polygon edge normals: box interval = c·n ± (hw|nx| + hh|ny|)
    c = cx[:, None] * normals[None, :, 0] + cy[:, None] * normals[None, :, 1]
    r = (hw[:, None] * np.abs(normals[None, :, 0])
         + hh[:, None] * np.abs(normals[None, :, 1]))
    sep |= ((c - r > pmax[None, :]) | (c + r < pmin[None, :])).any(axis=1)
    return ~sep


def _ring_area2(rings: list[np.ndarray]) -> float:
    """2x the absolute shoelace area summed over rings (>0 = has area)."""
    tot = 0.0
    for r in rings:
        tot += abs(float(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])))
    return tot


_RECT_FAST_PREDS = frozenset(("st_intersects", "st_contains", "st_covers"))


class _SideCache:
    """Per-batch cache of one join side's unique geometries.

    Envelopes and axis-rect flags come from the vectorized batch WKB
    decoder (:func:`wkb_batch_envrect`) — no per-row Python objects; only
    uniques the decoder can't read (multi-ring, multipolygon, big-endian,
    non-polygon) are parsed eagerly, and full Geometry/ring objects are
    built LAZILY, only for uniques that actually reach a kernel path.
    This is what keeps the generic WKB refine from paying ~20 us/row of
    object churn when the data is overwhelmingly rects/convex rings."""

    __slots__ = ("bufs", "env", "rect", "is_poly", "notnull", "_geoms",
                 "_rings")

    def __init__(self, bufs: list):
        self.bufs = bufs
        nu = len(bufs)
        self.env, rect5, ok = wkb_batch_envrect(bufs)
        self.notnull = np.fromiter((b is not None for b in bufs),
                                   dtype=bool, count=nu)
        self.is_poly = ok.copy()
        self._geoms = [None] * nu
        self._rings: list = [False] * nu
        for u in np.where(self.notnull & ~ok)[0]:
            g = self._geoms[u] = wkb_read(self.bufs[u])
            self.env[u] = g.envelope()
            rect5[u] = _is_axis_rect(g) is not None
            self.is_poly[u] = _rings_of(g) is not None
        # the _rect_ok rule: axis rect AND non-degenerate
        self.rect = (rect5 & (self.env[:, 0] < self.env[:, 2])
                     & (self.env[:, 1] < self.env[:, 3]))

    @classmethod
    def of_boxes(cls, env: np.ndarray) -> "_SideCache":
        """A declared-rect side read from its (n, 4) envelope doubles,
        one unique per row. Every row is a polygon and an axis rect,
        degenerate (zero width or height) ones included, so those resolve
        in the vectorized rect arms like any other rect; the box polygon
        is built only for a row that reaches a kernel."""
        side = cls.__new__(cls)
        nu = len(env)
        side.bufs, side.env = None, env
        side.notnull = ~np.isnan(env).any(axis=1)
        side.rect = side.is_poly = np.ones(nu, dtype=bool)
        side._geoms = [None] * nu
        side._rings = [False] * nu
        return side

    def geom(self, u: int):
        g = self._geoms[u]
        if g is None:
            if self.bufs is None:
                x0, y0, x1, y1 = self.env[u]
                g = Polygon(np.array([[x0, y0], [x0, y1], [x1, y1],
                                      [x1, y0], [x0, y0]]))
            else:
                g = wkb_read(self.bufs[u])
            self._geoms[u] = g
        return g

    def rings(self, u: int):
        r = self._rings[u]
        if r is False:
            r = self._rings[u] = _rings_of(self.geom(u))
        return r


_PRED_FNS = {
    "st_contains": K.contains,
    "st_within": K.within,
    "st_covers": K.covers,
    "st_coveredBy": K.covered_by,
    "st_intersects": K.intersects,
    "st_overlaps": K.overlaps,
    "st_touches": K.touches,
    "st_crosses": K.crosses,
    "st_equals": K.equals,
    "st_disjoint": K.disjoint,
}


def _groups(codes: np.ndarray, rows: np.ndarray):
    """(code, rows) per distinct code among ``rows``: one stable sort,
    never a scan of the batch per group."""
    if not len(rows):
        return
    rc = codes[rows]
    order = np.argsort(rc, kind="stable")
    srt = rc[order]
    cuts = np.r_[0, np.where(srt[1:] != srt[:-1])[0] + 1, len(srt)]
    for s, e in zip(cuts[:-1], cuts[1:]):
        yield srt[s], rows[order[s:e]]


def _refine_udf(predicate: str, left: str, right_bmap=None,
                meters: float | None = None):
    """The candidate refine of every spatial join: one Arrow-batched
    ``refine(*left_cols, right_key[, full])`` -> exact predicate per
    candidate pair (the refine half of GeoMesaJoinRelation.scala:41-91's
    sweepline-then-refine split).

    ``left`` names what the left columns hold: ``"point"`` (x, y),
    ``"rect"`` (xmin, ymin, xmax, ymax of a declared-rect left, so no
    left WKB crosses at all) or ``"geom"`` (WKB). The right key is a pid
    resolved through the broadcast dict ``right_bmap`` (Arrow ships
    8-byte ints, not WKB), or else the right WKB. A missing pid or a
    null geometry answers False.

    ``full`` is the right cover's per-cell flag: the pair's (canonical)
    cell lies strictly inside the right polygon. A flagged point is
    inside; a flagged axis-rect left overlaps that cell, so it
    intersects (the Z2IndexKeySpace.scala:129-141 loose-bbox accept,
    per pair). Flagged rows accept with zero kernel work, so callers
    pass ``full`` for point predicates and for st_intersects only.

    Per batch, each side parses once per unique geometry
    (pd.factorize + :class:`_SideCache`). Points group by right
    geometry: an axis rect takes 4 comparisons, a polygon the
    vectorized PIP kernel, anything else the exact kernel per pair;
    st_contains/st_within are strict, st_covers/st_intersects closed.
    Rect and geometry lefts take an envelope reject in one numpy pass,
    then rect x rect comparisons, SAT (convex) or the box-vs-rings test
    per unique polygon, envelope containment, and the per-pair DE-9IM
    kernel only for what remains. ``meters`` is st_dwithin."""
    n_left = {"point": 2, "rect": 4, "geom": 1}[left]  # Arrow columns per kind
    pred_fn = _PRED_FNS.get(predicate)

    @pandas_udf(BooleanType())
    def refine(*cols: pd.Series) -> pd.Series:
        r = cols[n_left]
        out = np.zeros(len(r), dtype=bool)
        rcodes, runiq = pd.factorize(r)
        if right_bmap is not None:
            pm = right_bmap.value
            rbufs = [pm.get(v) for v in runiq]
        else:
            rbufs = [None if v is None else bytes(v) for v in runiq]
        rside = _SideCache(rbufs)
        # null-in -> False out (-1 codes index the appended True)
        todo = (rcodes >= 0) & np.r_[rside.notnull, True][rcodes]
        if left == "point":
            lcodes = lside = None
        else:
            if left == "rect":
                env = np.column_stack([c.to_numpy(np.float64) for c in cols[:4]])
                lcodes, lside = np.arange(len(env)), _SideCache.of_boxes(env)
            else:
                lcodes, luniq = pd.factorize(cols[0])
                lside = _SideCache([None if v is None else bytes(v) for v in luniq])
            todo &= (lcodes >= 0) & np.r_[lside.notnull, True][lcodes]
        if not todo.any():  # e.g. an Arrow batch of all-null geometries:
            return pd.Series(out)  # empty uniq arrays can't be indexed below
        if len(cols) > n_left + 1:
            acc = todo & cols[n_left + 1].fillna(False).to_numpy(bool)
            if lside is not None:
                acc &= lside.rect[lcodes]
            out[acc] = True
            todo &= ~acc
        if left == "point":
            _refine_points(out, todo, cols[0].to_numpy(np.float64),
                           cols[1].to_numpy(np.float64), rcodes, rside,
                           strict=predicate in ("st_contains", "st_within"))
        elif meters is not None:
            _refine_dwithin(out, todo, lcodes, lside, rcodes, rside, meters)
        else:
            _refine_pairs(out, todo, lcodes, lside, rcodes, rside, predicate,
                          pred_fn)
        return pd.Series(out)

    return refine


def _refine_points(out, todo, xs, ys, rcodes, rside: _SideCache, strict: bool):
    """Point left: the rows of each right geometry in one vectorized
    test."""
    fn = K.contains if strict else K.intersects
    for u, idx in _groups(rcodes, np.where(todo)[0]):
        px, py = xs[idx], ys[idx]
        if rside.rect[u]:
            x0, y0, x1, y1 = rside.env[u]
            if strict:
                out[idx] = (px > x0) & (px < x1) & (py > y0) & (py < y1)
            else:
                out[idx] = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            continue
        g = rside.geom(u)
        if isinstance(g, Polygon):
            loc = K.pip_rings(px, py, g.rings)
            out[idx] = (loc == 1) if strict else (loc >= 0)
        else:  # non-polygon right side: exact kernel per pair (rare path)
            for i, x, y in zip(idx, px, py):
                out[i] = fn(g, Point(x, y))


def _refine_dwithin(out, todo, lcodes, lside, rcodes, rside, meters: float):
    """st_dwithin: the exact distance test per pair."""
    from ..geom.measures import translate as _shift
    for i in np.where(todo)[0]:
        lu, ru = lcodes[i], rcodes[i]
        lg, rg = lside.geom(lu), rside.geom(ru)
        le, re_ = lside.env[lu], rside.env[ru]
        # pair straddling the antimeridian: bring the right
        # geometry into the left's local frame (planar
        # nearest-point math is local; a 359.98-deg planar gap
        # is really 0.02 deg)
        if le[0] - re_[2] > 180.0:
            rg = _shift(rg, 360.0, 0.0)
        elif re_[0] - le[2] > 180.0:
            rg = _shift(rg, -360.0, 0.0)
        out[i] = dwithin_geoms(lg, rg, meters)


def _refine_pairs(out, todo, lcodes, lside, rcodes, rside, predicate: str,
                  pred_fn):
    """Rect or geometry left: vectorized arms first, the exact DE-9IM
    kernel per pair for what they leave (only genuinely concave or
    multi-ring survivors)."""
    ea, eb = lside.env[lcodes], rside.env[rcodes]
    env_hit = ((ea[:, 0] <= eb[:, 2]) & (eb[:, 0] <= ea[:, 2])
               & (ea[:, 1] <= eb[:, 3]) & (eb[:, 1] <= ea[:, 3]))
    if predicate in _ENV_REJECT_PREDS:
        todo &= env_hit  # rejected rows stay False
    elif predicate == "st_disjoint":
        miss = todo & ~env_hit
        out[miss] = True  # envelope miss proves disjointness
        todo &= env_hit

    l_rect, r_rect = lside.rect, rside.rect
    # rect x rect resolves vectorized (degenerate WKB rects -> kernel)
    both_rect = todo & l_rect[lcodes] & r_rect[rcodes]
    idx = np.where(both_rect)[0]
    if len(idx):
        out[idx] = _rect_rect_vec(predicate, ea[idx], eb[idx])
        todo &= ~both_rect

    # rect x polygon: vectorize per unique polygon (the many-rects x
    # few-polygons join is the reference's generateTestData shape)
    if predicate in ("st_intersects", "st_disjoint"):
        want = predicate == "st_intersects"
        for rect_on_left in (True, False):
            if rect_on_left:
                mask = todo & l_rect[lcodes] & rside.is_poly[rcodes]
                grp_codes, env_rows, poly_side = rcodes, ea, rside
            else:
                mask = todo & r_rect[rcodes] & lside.is_poly[lcodes]
                grp_codes, env_rows, poly_side = lcodes, eb, lside
            for u, sub in _groups(grp_codes, np.where(mask)[0]):
                sat = _convex_sat_of(poly_side.geom(u))
                if sat is not None:  # convex: SAT fast path
                    hit = _box_convex_intersects_vec(env_rows[sub], sat)
                else:
                    hit = _rect_poly_intersects_vec(env_rows[sub], poly_side.rings(u))
                out[sub] = hit if want else ~hit
            todo &= ~mask
    elif predicate in ("st_covers", "st_contains", "st_coveredBy", "st_within"):
        # covers(rect, B) == env(B) inside the closed rect (exact: a
        # box is convex and env is tight); contains additionally needs
        # interior overlap — guaranteed when B has positive area.
        # coveredBy/within are the same test with the sides swapped.
        sides = ((lside, lcodes, ea), (rside, rcodes, eb))
        if predicate in ("st_coveredBy", "st_within"):
            sides = sides[::-1]
        (box, bcodes, be), (inner, icodes, ie) = sides
        polys = inner.is_poly
        if predicate in ("st_contains", "st_within"):
            polys = np.fromiter(
                (polys[u] and _ring_area2(inner.rings(u)) > 0.0
                 for u in range(len(polys))), dtype=bool, count=len(polys))
        mask = todo & box.rect[bcodes] & polys[icodes]
        idx = np.where(mask)[0]
        if len(idx):
            out[idx] = ((be[idx, 0] <= ie[idx, 0]) & (ie[idx, 2] <= be[idx, 2])
                        & (be[idx, 1] <= ie[idx, 1]) & (ie[idx, 3] <= be[idx, 3]))
            todo &= ~mask

    for i in np.where(todo)[0]:
        out[i] = bool(pred_fn(lside.geom(lcodes[i]), rside.geom(rcodes[i])))


def _jvm_convex_intersects(cand: DataFrame, pmap: dict, lenv_cols,
                           spark) -> DataFrame | None:
    """Box x CONVEX-polygon st_intersects with ZERO Python on the hot
    path: the separating-axis test becomes a broadcast hash ANTI-join.

    A pair (box, convex poly) intersects iff no axis separates them; the
    candidate join already enforced the box axes (envelope overlap), so
    only the polygon's edge normals remain. Those are per-polygon
    constants — one broadcast row per (pid, edge) with the normal and the
    polygon's projection interval — and a LEFT ANTI join keyed on pid
    with the strict-separation condition removes exactly the pairs some
    edge separates, inside whole-stage codegen (~tens of ns per edge
    versus the Arrow round trip of a Python refine). Returns None when
    any right geometry is non-convex (callers fall back to the kernel
    refine). Same arithmetic as _box_convex_intersects_vec (c ± r vs
    pmin/pmax, identical IEEE op order), so both paths agree bit-for-bit.
    """
    edge_rows = []
    for pid, w in pmap.items():
        sat = _convex_sat_of(wkb_read(w))
        if sat is None:
            return None
        normals, pmin, pmax, _env = sat
        for k in range(len(normals)):
            edge_rows.append((pid, float(normals[k, 0]), float(normals[k, 1]),
                              float(pmin[k]), float(pmax[k])))
    redges = spark.createDataFrame(
        edge_rows, "__rpid__ long, __nx__ double, __ny__ double, "
                   "__pn__ double, __px__ double")
    x0, y0, x1, y1 = lenv_cols
    cx, cy = (x0 + x1) * 0.5, (y0 + y1) * 0.5
    hw, hh = (x1 - x0) * 0.5, (y1 - y0) * 0.5
    c = cx * F.col("__nx__") + cy * F.col("__ny__")
    r = hw * F.abs(F.col("__nx__")) + hh * F.abs(F.col("__ny__"))
    sep = (c - r > F.col("__px__")) | (c + r < F.col("__pn__"))
    return cand.join(F.broadcast(redges),
                     on=[cand["__rpid__"] == redges["__rpid__"], sep],
                     how="left_anti")


def _cover_ij(df: DataFrame, geom_col: str, env_cols, level: int, tag: str,
              expand_m: float | None = None) -> DataFrame:
    """Explode one side to (gi, gj) rows; also emit that side's
    (expanded) envelope as __{tag}x0__..__{tag}y1__ sidecars so the
    candidate join can envelope-reject in pure JVM. ``expand_m``
    (meters, dwithin) expands per ROW with the latitude-aware
    degree equivalent (sphere_expand_degrees semantics) — a flat
    worst-case factor would under-cover above ~48 deg latitude."""
    if env_cols is not None:
        x0, y0, x1, y1 = (F.col(c) for c in env_cols)
        if expand_m is not None:
            rlat = F.lit(expand_m / 110_540.0)
            # pole-safe: clamp phi at 90 (cos(radians(90)) is a
            # positive ~6e-17 in doubles, so the division is
            # finite) and cap the window at the full wrap —
            # clamping phi below 90 under-covers near the poles
            phi = F.least(F.greatest(F.abs(y0), F.abs(y1)) + rlat,
                          F.lit(90.0))
            rlon = F.least(rlat / F.cos(F.radians(phi)), F.lit(180.0))
            x0, y0, x1, y1 = x0 - rlon, y0 - rlat, x1 + rlon, y1 + rlat
            # antimeridian-crossing window: widen to the full lon
            # range (contiguous cover for the report-once rule;
            # the refine resolves the +-360 shift exactly)
            wrap = (x0 < F.lit(-180.0)) | (x1 > F.lit(180.0))
            x0 = F.when(wrap, F.lit(-180.0)).otherwise(x0)
            x1 = F.when(wrap, F.lit(180.0)).otherwise(x1)
        out = _explode_bbox_ij(df, x0, y0, x1, y1, level, tag)
        return (out.withColumn(f"__{tag}x0__", x0)
                   .withColumn(f"__{tag}y0__", y0)
                   .withColumn(f"__{tag}x1__", x1)
                   .withColumn(f"__{tag}y1__", y1))
    cov = _cells_ij_of_geom(level, expand_m=expand_m)
    return (df.withColumn("__ce__", cov(F.col(geom_col)))
              .withColumn(f"__{tag}gi0__", F.col("__ce__.gi0"))
              .withColumn(f"__{tag}gj0__", F.col("__ce__.gj0"))
              .withColumn(f"__{tag}x0__", F.col("__ce__.bx0"))
              .withColumn(f"__{tag}y0__", F.col("__ce__.by0"))
              .withColumn(f"__{tag}x1__", F.col("__ce__.bx1"))
              .withColumn(f"__{tag}y1__", F.col("__ce__.by1"))
              .withColumn("__zz__", F.explode(F.arrays_zip(
                  F.col("__ce__.gis").alias("gi"),
                  F.col("__ce__.gjs").alias("gj"))))
              .withColumn("__gi__", F.col("__zz__.gi"))
              .withColumn("__gj__", F.col("__zz__.gj"))
              .drop("__ce__", "__zz__"))


def _report_once(l: DataFrame, r: DataFrame, env_reject: bool) -> DataFrame:
    """Candidate pairs of two exploded sides, each kept only in its
    canonical cell: by monotonicity that cell's grid pair is (max of
    the two range minima) — four integer comparisons, cheap even when a
    Python-UDF stage disables whole-stage codegen.

    ``env_reject`` adds a pure-JVM envelope-overlap reject ahead of any
    Python: cell-sharing pairs with disjoint envelopes can't satisfy an
    intersection-requiring predicate (for dwithin the right envelope is
    already expanded, so the test stays a necessary condition), and
    killing them here, not in the refine, lets the join run a COARSER
    grid — fewer exploded probe rows — without paying for the extra
    false candidates in Arrow traffic. The sidecars are dropped."""
    cand = (l.join(r, on=["__gi__", "__gj__"], how="inner")
             .filter((F.col("__gi__") == F.greatest("__lgi0__", "__rgi0__"))
                     & (F.col("__gj__") == F.greatest("__lgj0__", "__rgj0__")))
             .drop("__gi__", "__gj__", "__lgi0__", "__lgj0__",
                   "__rgi0__", "__rgj0__"))
    if env_reject:
        cand = cand.filter((F.col("__lx0__") <= F.col("__rx1__"))
                           & (F.col("__rx0__") <= F.col("__lx1__"))
                           & (F.col("__ly0__") <= F.col("__ry1__"))
                           & (F.col("__ry0__") <= F.col("__ly1__")))
    return cand.drop("__lx0__", "__ly0__", "__lx1__", "__ly1__",
                     "__rx0__", "__ry0__", "__rx1__", "__ry1__")


def _bnlj_candidates(left: DataFrame, pmap: dict, left_env) -> DataFrame:
    """TINY right side: skip the cell grid entirely — a
    BroadcastNestedLoopJoin on the 4-comparison envelope condition
    evaluates |L|x|R| pairs in whole-stage codegen faster than exploding
    the left to cells and hash-joining (measured: 0.73 s vs 1.08 s for
    1M x 200 at ~1.8M candidates) and needs no report-once dedup.
    O(|L|*|R|) only works because |R| is bounded; the grid path takes
    over beyond the cutoff. One renv row per UNIQUE geometry (pid):
    duplicate-geometry right rows get their multiplicity from the
    rows_back join, exactly once."""
    renv_rows = [(pid, *[float(v) for v in wkb_read(w).envelope()])
                 for pid, w in pmap.items()]
    renv = left.sparkSession.createDataFrame(
        renv_rows, "__rpid__ long, __rx0__ double, __ry0__ double, "
                   "__rx1__ double, __ry1__ double")
    x0, y0, x1, y1 = (F.col(c) for c in left_env)
    cond = ((x0 <= F.col("__rx1__")) & (F.col("__rx0__") <= x1)
            & (y0 <= F.col("__ry1__")) & (F.col("__ry0__") <= y1))
    return (left.join(F.broadcast(renv), cond, "inner")
                .drop("__rx0__", "__ry0__", "__rx1__", "__ry1__"))


def _pid_grid_candidates(left: DataFrame, left_geom: str, left_env,
                         pmap: dict, level: int, env_reject: bool) -> DataFrame:
    """The broadcast grid: the right side collapses to a driver-built
    (pid, gi, gj, full) cell table with an envelope sidecar — a
    LocalTableScan with NO Python operator, so the probe-side join stays
    in whole-stage codegen (the PreparedPipPolys shape)."""
    from ..curves.zorder import z2_decode
    recs = []
    for pid, w in pmap.items():
        arr, full = _flagged_cover_of_wkb(w, level)
        e = wkb_read(w).envelope()
        gis, gjs = z2_decode(arr)
        gi0, gj0 = int(gis.min()), int(gjs.min())
        ex = tuple(float(v) for v in e)  # meters is None on this path
        for gi, gj, fl in zip(gis.tolist(), gjs.tolist(), full.tolist()):
            recs.append((pid, gi, gj, gi0, gj0, bool(fl), *ex))
    rcells = left.sparkSession.createDataFrame(
        recs, "__rpid__ long, __gi__ long, __gj__ long, "
              "__rgi0__ long, __rgj0__ long, __rfull__ boolean, "
              "__rx0__ double, __ry0__ double, "
              "__rx1__ double, __ry1__ double")
    l = _cover_ij(left, left_geom, left_env, level, "l")
    return _report_once(l, F.broadcast(rcells), env_reject)


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str,
    left_geom: str = "geom",
    right_geom: str = "geom",
    level: int | None = None,
    meters: float | None = None,
    broadcast_right: bool | str = "auto",
    left_env: tuple[str, str, str, str] | None = None,
    right_env: tuple[str, str, str, str] | None = None,
    left_rects: bool = False,
    auto_broadcast_bytes: int = 32 << 20,
) -> DataFrame:
    """General geometry x geometry join via bbox cell covers + exact refine.

    Both sides explode to covering cells; a pair overlapping k cells is
    emitted ONLY in the canonical cell containing (max of cover-envelope
    x-mins, max of y-mins) — that point lies in both covers whenever the
    cover envelopes overlap, so each envelope-overlapping pair surfaces
    exactly once and the join needs NO pair-dedup shuffle (the classic
    report-once grid-join rule; pairs with disjoint cover envelopes can
    never satisfy an intersection-requiring predicate). st_disjoint is
    the complement join — its answer is inherently ~|L| x |R| rows and no
    cell prefilter can enumerate it, so it runs as a cross join with an
    envelope fast-accept in the refine. For st_dwithin pass ``meters``;
    the right covers expand per row by the latitude-aware degree
    equivalent (FilterHelper/GeometryProcessing buffer semantics via
    sphere_expand_degrees), and report-once applies to the expanded
    covers. Both sides carry envelope sidecars through the candidate
    join, so a pure-JVM envelope-overlap reject runs ahead of the Python
    refine on every path.

    ``left_env``/``right_env`` name (xmin, ymin, xmax, ymax) envelope
    sidecar columns: the cell cover then computes ENTIRELY inside
    whole-stage codegen (_explode_bbox_ij) — no WKB parse, no Python —
    the shape the xz2/xz3 stores feed (they persist envelope sidecars at
    ingest exactly for this).

    ``broadcast_right="auto"`` (default) resolves by Catalyst's
    estimated size of the right plan against ``auto_broadcast_bytes``
    (32 MB — same role as spark.sql.autoBroadcastJoinThreshold, sized
    for WKB rows): a small right side takes the pid-keyed
    broadcast/LocalTableScan path, a large one the shuffle grid join.
    Pass True/False to force.

    Every path builds its candidates and then runs one refine
    (:func:`_refine_udf`). Broadcast joins key the right side by
    geometry hash and resolve WKB through a Spark broadcast inside the
    refine workers, so Arrow ships 8-byte pids instead of geometry blobs
    per candidate (the PreparedPipPolys traffic shape); on the pid grid
    an st_intersects refine also reads the right cover's full-cell flag
    and accepts flagged rect lefts without a kernel. ``left_rects=True``
    declares every left geometry an axis rect equal to its envelope
    (requires left_env): for intersects/contains/covers the refine then
    reads ONLY the envelope doubles — no left WKB anywhere on the hot
    path — and a broadcast st_intersects against an all-convex right
    runs no Python at all (:func:`_jvm_convex_intersects`).
    """
    if broadcast_right == "auto":
        # the same statistic Spark's own broadcast-join planning reads:
        # Catalyst's estimated size of the optimized right plan. Below the
        # threshold the right side is small enough to collect/broadcast
        # (the pid-keyed LocalTableScan path — the fast plan whenever it
        # fits); above it, the shuffle grid join.
        broadcast_right = _plan_size_bytes(right) <= auto_broadcast_bytes
    if level is None:
        level = DEFAULT_LEVEL
    rect_left = (left_rects and left_env is not None and meters is None
                 and predicate in _RECT_FAST_PREDS)
    lcols = [F.col(c) for c in left_env] if rect_left else [F.col(left_geom)]
    rkey, full = F.col(right_geom), []
    pmap = bmap = rows_back = None
    if predicate == "st_disjoint":
        # st_disjoint selects every pair whose geometries share NO point —
        # the complement of an intersection join. Pairs in non-overlapping
        # cells are disjoint too, so a cell prefilter cannot enumerate the
        # answer (and the answer is inherently ~|L| x |R| rows): candidates
        # are the full cross product, each right ROW keeping its own output
        # row (no geometry dedup). The refine fast-accepts envelope-miss
        # pairs without touching the kernel.
        cand = left.crossJoin(F.broadcast(right) if broadcast_right else right)
    elif broadcast_right and meters is None:
        # broadcast path: candidates carry an 8-byte pid; geometry reaches
        # the refine workers once via a Spark broadcast; right attribute
        # rows come back via a pid join against a driver-built literal at
        # the end (per ROW, so duplicate-geometry right rows keep their
        # multiplicity — and a LocalTableScan build side keeps the
        # multi-million-row join-back probe in codegen too).
        spark = left.sparkSession
        pls = (right.filter(F.col(right_geom).isNotNull())
                    .withColumn("__rpid__", F.xxhash64(F.col(right_geom))))
        prows = pls.collect()
        rows_back = spark.createDataFrame(prows, pls.schema)
        pmap = {row["__rpid__"]: bytes(row[right_geom]) for row in prows}
        bmap = spark.sparkContext.broadcast(pmap)
        rkey = F.col("__rpid__")
        if (len(prows) <= 512 and left_env is not None
                and predicate in _ENV_REJECT_PREDS):
            cand = _bnlj_candidates(left, pmap, left_env)
        else:
            cand = _pid_grid_candidates(left, left_geom, left_env, pmap, level,
                                        predicate in _ENV_REJECT_PREDS)
            if predicate == "st_intersects":
                # the flag rides into the refine and flagged rows skip the
                # kernel (single pass; a filter-split + union would scan
                # the candidate join twice)
                full = [F.col("__rfull__")]
    else:
        l = _cover_ij(left, left_geom, left_env, level, "l")
        r = _cover_ij(right, right_geom, right_env, level, "r", meters)
        cand = _report_once(l, F.broadcast(r) if broadcast_right else r,
                            predicate in _ENV_REJECT_PREDS or meters is not None)

    out = None
    if rect_left and predicate == "st_intersects" and pmap is not None:
        # all-convex right: SAT as a codegen anti-join, no Python
        out = _jvm_convex_intersects(cand.drop("__rfull__"), pmap, lcols,
                                     left.sparkSession)
    if out is None:
        refine = _refine_udf(predicate, "rect" if rect_left else "geom",
                             right_bmap=bmap, meters=meters)
        out = cand.filter(refine(*lcols, rkey, *full))
    if pmap is None:
        return out
    return (out.drop("__rfull__")
               .join(F.broadcast(rows_back), on="__rpid__", how="inner")
               .drop("__rpid__"))
