"""The benchmark workloads.

Each workload generates its inputs from the seed in ``generate``, hands
them to the engine in ``setup`` (which ``teardown`` undoes, so set-up can
be timed more than once), runs one closed-loop operation per ``job`` call
through the public functions of ``geomesa_spark`` and verifies the
operation's output in ``check`` against an oracle from :mod:`oracles`
that does not use the engine.

Every call into an engine layer and every action that executes it runs
inside ``tracer.span(name, layer)``; with tracing off that is a no-op.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geomesa_spark.operators.cache import release
from geomesa_spark.operators.knn import knn_join
from geomesa_spark.operators.spatial_join import pip_join, prepare_pip_polys, spatial_join
from geomesa_spark.operators.tiling import density_points, density_pyramid
from geomesa_spark.plans.checkpoint import run_stage
from geomesa_spark.plans.planner import planned_query
from geomesa_spark.plans.store import (
    bbox_query, bbox_query_xz2, stbox_query_z3, write_indexed, write_indexed_xz2,
    write_indexed_z3, z2_keyed,
)
from geomesa_spark.sources.pages import URBAN_CENTERS, geoparse

import gen
import oracles
from tracing import CHECKPOINT, KNN, PLANNER, SJ, SOURCES, STORE, TILING


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker and
    checksum files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


@contextlib.contextmanager
def session_conf(spark, conf: dict):
    """Set Spark SQL options for the duration of a block."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class Workload:
    """One workload: ``generate`` and ``oracle`` once, ``setup`` (and
    ``teardown``) several times, then ``job``/``check`` in the loop."""

    name = ""
    rows_per_job = 0           # input rows one job processes
    # ways ``corrupt`` can falsify an output, one per check in ``check``
    CORRUPTIONS: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        # per-query latencies, for workloads whose operation runs several
        # queries; empty means one operation is one query
        self.query_walls: list[float] = []

    def n(self, full: int, floor: int = 1) -> int:
        return max(floor, int(full * self.scale))

    def generate(self) -> None:
        """Build the inputs from the seed (numpy and pandas on the driver;
        not part of the timed set-up)."""
        raise NotImplementedError

    def setup(self) -> None:
        """Hand the generated inputs to the engine: cached frames, stores,
        polygon layers. Timed; ``teardown`` undoes it."""
        raise NotImplementedError

    def oracle(self) -> None:
        """Compute the reference answers (outside the timed set-up)."""

    def job(self, i: int):
        raise NotImplementedError

    def warmup(self):
        """One operation before the measured loop, untimed."""
        return self.job(0)

    def check(self, out) -> list[str]:
        """Mismatches between ``out`` and the oracle; empty when correct."""
        raise NotImplementedError

    def corrupt(self, out, kind: str):
        """A falsified copy of ``out`` that only the check named ``kind``
        can catch, or None when ``out`` holds nothing that check reads."""
        raise NotImplementedError

    def teardown(self) -> None:
        """Drop what ``setup`` built."""


class PipJoin(Workload):
    """Cached skewed points x a small layer of convex 24-gons."""

    name = "pip_join"
    CORRUPTIONS = ("count", "unknown_polygon")

    def generate(self):
        rng = gen.rng_for(self.seed, "pip")
        n_pts, n_polys = self.n(150_000, 1000), self.n(100, 8)
        self.px, self.py = gen.urban_points(rng, n_pts)
        self.poly_ids, self.rings = gen.convex_ngons(rng, n_polys)
        self.pts_pdf = pd.DataFrame({"pt_id": np.arange(n_pts, dtype=np.int64),
                                     "lon": self.px, "lat": self.py})
        self.polys_pdf = pd.DataFrame({"poly_id": self.poly_ids,
                                       "geom": [gen.polygon_wkb(r) for r in self.rings]})
        self.rows_per_job = n_pts

    def setup(self):
        self.points = self.spark.createDataFrame(self.pts_pdf).cache()
        self.points.count()
        self.polys = self.spark.createDataFrame(self.polys_pdf).cache()
        self.polys.count()

    def teardown(self):
        self.points.unpersist(blocking=True)
        self.polys.unpersist(blocking=True)

    def oracle(self):
        self.sure, self.amb = oracles.pip_counts(self.px, self.py, self.rings)

    def job(self, i):
        tr = self.tr
        with tr.span("prepare_pip_polys", SJ):
            prepared = prepare_pip_polys(self.polys)
        with tr.span("pip_join", SJ):
            joined = pip_join(self.points, prepared, "lon", "lat", "geom",
                              predicate="st_contains")
            agg = joined.groupBy("poly_id").count()
        with tr.span("collect", SJ, action=agg):
            rows = agg.collect()
        prepared.release()
        out = {int(r[0]): int(r[1]) for r in rows}
        tr.count("spatial_join.prepared", 1)
        tr.count("spatial_join.matches", sum(out.values()))
        return out

    def check(self, out):
        return oracles.pip_check(out, self.sure, self.amb)

    def corrupt(self, out, kind):
        if kind == "unknown_polygon":
            return {**out, -1: 1}
        if not out:
            return None
        # one more match than the oracle allows, on a polygon that has some
        pid = min(out)
        return {**out, pid: int(self.sure[pid] + self.amb[pid]) + 1}


class GridKnn(Workload):
    """Extended x extended shuffle grid join, then a mixed kNN join."""

    name = "grid_knn"
    K = 10
    MULT = 1_000_003
    # The right side (a few MB of cached rectangles) is above this estimate
    # threshold, so "auto" picks the shuffle grid join. A right side above
    # the default 32 MB threshold at a realistic match rate makes one join
    # take minutes on a 4-core box. For the same reason Spark's own
    # size-based broadcast is off for this join: at this size Spark would
    # broadcast the exploded right side and no exchange would run.
    BROADCAST_BYTES = 1 << 20
    NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                         "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}
    # hot queries finish in the one radius round; rural ones take the
    # completeness fallback. Every further round costs ~3.5 s of Spark
    # jobs on a 4-core box whatever the input size, which a run cannot fit
    KNN_RADIUS, KNN_ROUNDS = 1.0, 1
    CORRUPTIONS = ("join_digest", "knn_neighbour")

    def generate(self):
        rng = gen.rng_for(self.seed, "grid")
        n_left, n_right = self.n(40_000, 500), self.n(10_000, 200)
        # half-extents sized for ~1-2 matches per metro rectangle
        left = gen.rects(rng, n_left, 0.004, 0.002)
        right = gen.rects(rng, n_right, 0.004, 0.002, id_base=10_000_000)
        self.sample = np.sort(rng.choice(left["id"].to_numpy(),
                                         min(200, n_left), replace=False))
        left["s"] = left["id"].isin(self.sample)
        self.left_pdf, self.right_pdf = left, right
        n_data, n_q = self.n(40_000, 2000), self.n(120, 20)
        dx, dy = gen.urban_points(rng, n_data)
        qx, qy = gen.urban_points(rng, n_q, hot_frac=0.7)
        self.data_np = (dx, dy, np.arange(n_data, dtype=np.int64))
        self.q_np = (qx, qy, np.arange(n_q, dtype=np.int64))
        self.q_sample = np.sort(rng.choice(self.q_np[2], min(100, n_q), replace=False))
        self.rows_per_job = n_left

    def setup(self):
        self.left = (self.spark.createDataFrame(self.left_pdf).toDF(
            "lid", "lx0", "ly0", "lx1", "ly1", "lgeom", "s").cache())
        self.left.count()
        self.right = (self.spark.createDataFrame(self.right_pdf).toDF(
            "rid", "rx0", "ry0", "rx1", "ry1", "rgeom").cache())
        self.right.count()
        dx, dy, did = self.data_np
        self.data = self.spark.createDataFrame(pd.DataFrame(
            {"did": did, "lon": dx, "lat": dy})).cache()
        self.data.count()
        qx, qy, qid = self.q_np
        self.queries = self.spark.createDataFrame(pd.DataFrame(
            {"qid": qid, "qx": qx, "qy": qy})).cache()
        self.queries.count()

    def teardown(self):
        for df in (self.left, self.right, self.data, self.queries):
            df.unpersist(blocking=True)

    def oracle(self):
        pairs = oracles.rect_pairs(self.left_pdf, self.right_pdf, self.sample)
        self.digest = oracles.pair_digest(pairs, self.MULT)
        qx, qy, qid = self.q_np
        m = np.isin(qid, self.q_sample)
        self.knn_truth = oracles.knn_brute(qx[m], qy[m], qid[m], *self.data_np, self.K)
        self.total = None

    def job(self, i):
        return self.grid_join(), self.knn()

    def grid_join(self):
        tr = self.tr
        with session_conf(self.spark, self.NO_AUTO_BROADCAST):
            with tr.span("spatial_join", SJ):
                j = spatial_join(self.left, self.right, "st_intersects",
                                 left_geom="lgeom", right_geom="rgeom",
                                 left_env=("lx0", "ly0", "lx1", "ly1"),
                                 right_env=("rx0", "ry0", "rx1", "ry1"),
                                 left_rects=True,
                                 auto_broadcast_bytes=self.BROADCAST_BYTES)
                s = F.col("s")
                agg = j.agg(F.count(F.lit(1)),
                            F.sum(F.when(s, 1).otherwise(0)),
                            F.sum(F.when(s, F.col("lid") * self.MULT + F.col("rid"))
                                  .otherwise(0)),
                            F.sum(F.when(s, F.col("rid") * F.col("rid")).otherwise(0)))
            with tr.span("collect", SJ, action=agg):
                row = agg.collect()[0]
        tr.count("spatial_join.matches", int(row[0]))
        return tuple(int(v or 0) for v in row)

    def knn(self):
        tr = self.tr
        with tr.span("knn_join", KNN):
            res = knn_join(self.queries, self.data, self.K,
                           initial_radius=self.KNN_RADIUS, max_rounds=self.KNN_ROUNDS)
            sel = res.select("qid", "did", "rank")
        with tr.span("collect", KNN, action=sel):
            rows = sel.collect()
        # knn_join attaches one persisted candidate frame per round
        tr.count("knn.rounds", len(getattr(res, "_geomesa_cached", [])))
        tr.count("knn.results", len(rows))
        release(res)
        return rows

    def check(self, out):
        (total, *digest), rows = out
        bad = []
        if tuple(digest) != self.digest:
            bad.append(f"grid join sample digest {tuple(digest)} != oracle {self.digest}")
        if self.total is None:
            self.total = total
        elif total != self.total:
            bad.append(f"grid join total {total} changed from {self.total}")
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r[0]), []).append((int(r[2]), int(r[1])))
        if len(got) != len(self.q_np[2]) or any(len(v) != self.K for v in got.values()):
            bad.append("knn: not every query has k neighbours")
        for q, want in self.knn_truth.items():
            have = [d for _, d in sorted(got.get(q, []))]
            if have != want:
                bad.append(f"knn query {q}: {have[:3]}... != {want[:3]}...")
        return bad

    def corrupt(self, out, kind):
        (total, n, s1, s2), rows = out
        if kind == "join_digest":
            return (total, n, s1 + 1, s2), rows
        # a sampled query's nearest neighbour replaced by an id that is
        # not a data point; every query keeps k neighbours
        q = next(iter(self.knn_truth))
        at = next((i for i, r in enumerate(rows) if int(r[0]) == q and int(r[2]) == 1), None)
        if at is None:
            return None
        return (total, n, s1, s2), rows[:at] + [(q, -1, 1)] + rows[at + 1:]


class Joins(Workload):
    """The three join operators in one operation: ``pip_join``, the grid
    join and the kNN join of the two workloads above, each on its own
    inputs. Its queries are the three join calls."""

    name = "joins"

    def __init__(self, spark, work, seed, scale, tracer):
        self.pip = PipJoin(spark, work, seed, scale, tracer)
        self.grid = GridKnn(spark, work, seed, scale, tracer)
        super().__init__(spark, work, seed, scale, tracer)
        self.CORRUPTIONS = self.pip.CORRUPTIONS + self.grid.CORRUPTIONS

    @property
    def tr(self):
        return self.pip.tr

    @tr.setter
    def tr(self, tracer):
        self.pip.tr = self.grid.tr = tracer

    def generate(self):
        self.pip.generate()
        self.grid.generate()
        self.rows_per_job = self.pip.rows_per_job + self.grid.rows_per_job

    def setup(self):
        self.pip.setup()
        self.grid.setup()

    def teardown(self):
        self.pip.teardown()
        self.grid.teardown()

    def oracle(self):
        self.pip.oracle()
        self.grid.oracle()

    def job(self, i):
        out = []
        for call in (lambda: self.pip.job(i), self.grid.grid_join, self.grid.knn):
            t0 = time.perf_counter()
            out.append(call())
            self.query_walls.append(time.perf_counter() - t0)
        return out[0], (out[1], out[2])

    def check(self, out):
        return self.pip.check(out[0]) + self.grid.check(out[1])

    def corrupt(self, out, kind):
        if kind in self.pip.CORRUPTIONS:
            return self.pip.corrupt(out[0], kind), out[1]
        return out[0], self.grid.corrupt(out[1], kind)


def _box_around(rng, cx, cy, half_w, half_h):
    x0 = max(-180.0, cx - half_w * rng.uniform(0.6, 1.0))
    x1 = min(180.0, cx + half_w * rng.uniform(0.6, 1.0))
    y0 = max(-90.0, cy - half_h * rng.uniform(0.6, 1.0))
    y1 = min(90.0, cy + half_h * rng.uniform(0.6, 1.0))
    return (round(x0, 4), round(y0, 4), round(x1, 4), round(y1, 4))


class StoreQuery(Workload):
    """Ingest and index in set-up, then a closed loop of passes over a
    fixed query mix on z2, z3 and xz2 stores.

    Set-up is the ingest path: a pages table is read, geoparsed and
    checkpointed z2-keyed through ``checkpoint.run_stage`` with the cell
    histogram; the checkpoint is then indexed into a z2 store in the
    default 256-partition layout and a z3 store, and rectangles go into an
    xz2 store. One operation is one pass
    over the mix, so every run measures the same query classes; query
    latencies are the per-query walls inside the passes.
    """

    name = "store_query"
    TILE, LEVELS = 256, 3
    # Two input partitions: a hive-partitioned write makes one file per
    # (task, partition value), and the job commit moves every file on the
    # driver, so a store's file count sets its write time.
    WRITERS = 2
    # The z3 and xz2 stores use 16 partitions (one hex digit): three
    # 256-partition stores do not fit the set-up time of a run. The z2
    # store keeps the default layout and with it the partition discovery.
    Z3_DIGITS = XZ2_DIGITS = 1

    CORRUPTIONS = ("parsed_rows", "query_count", "tile_cell")

    def generate(self):
        rng = gen.rng_for(self.seed, "store")
        self.pages_pdf, self.truth = gen.pages(rng, self.n(12_000, 1000))
        self.rects_pdf = gen.rects(rng, self.n(3_000, 200), 0.5, 0.3).rename(
            columns={"id": "rect_id"})
        self.paths = {k: os.path.join(self.work, f"store_{k}") for k in ("z2", "z3", "xz2")}
        self.checkpoint = os.path.join(self.work, "checkpoint")
        # the pages table is the input the ingest reads, written without
        # the engine: one parquet file per writer
        self.pages_path = os.path.join(self.work, "pages")
        os.makedirs(self.pages_path)
        for w, part in enumerate(np.array_split(np.arange(len(self.pages_pdf)), self.WRITERS)):
            self.pages_pdf.iloc[part].to_parquet(
                os.path.join(self.pages_path, f"part-{w}.parquet"), index=False)
        # the same mix for every seed (only the data comes from the seed),
        # so runs with different seeds time the same query geometry
        self.mix = self._mix(np.random.default_rng(0))
        self.rows_per_job = len(self.truth) * len(self.mix)

    def setup(self):
        tr, spark = self.tr, self.spark
        with tr.span("read_pages", SOURCES):
            pages_df = spark.read.parquet(self.pages_path)
        with tr.span("geoparse", SOURCES):
            parsed = geoparse(pages_df)
        with tr.span("run_stage", CHECKPOINT):
            res = run_stage(spark, "ingest", self.checkpoint,
                            build=lambda: z2_keyed(parsed), cell_col="z2_p")
        self.parsed_rows = int(res.manifest["row_count"])
        tr.count("sources.rows_parsed_frac", self.parsed_rows / len(self.pages_pdf))
        points = res.df.select("page_id", "lon", "lat", "secs")
        with tr.span("write_indexed", STORE):
            write_indexed(points, self.paths["z2"])
        tr.count("store_bytes_per_input_byte",
                 dir_bytes(self.paths["z2"])[1] / dir_bytes(self.pages_path)[1])
        with tr.span("write_indexed_z3", STORE):
            write_indexed_z3(points, self.paths["z3"], digits=self.Z3_DIGITS)
        with tr.span("write_indexed_xz2", STORE):
            write_indexed_xz2(spark.createDataFrame(self.rects_pdf.drop(
                columns=["x0", "y0", "x1", "y1"])).coalesce(self.WRITERS),
                self.paths["xz2"], digits=self.XZ2_DIGITS)
        self.files_total = {k: dir_bytes(p)[0] for k, p in self.paths.items()}

    def _mix(self, rng):
        """City, country, continent and whole-world boxes, box + time and
        time-only windows, a map tile, and an exact repeat of the first
        query. Five entries read the z2 store (the planner sends the box +
        time query there too) and three the 16-partition stores, so the
        median falls on z2 queries in every run."""
        def metro():
            return URBAN_CENTERS[rng.integers(0, len(URBAN_CENTERS))]

        def window(days):
            t0 = gen.T0 + int(rng.integers(0, 7 - days)) * 86_400
            return (t0, t0 + days * 86_400)

        city = _box_around(rng, *metro(), 0.15, 0.1)
        return [
            {"kind": "bbox", "bbox": city, "interval": None},
            {"kind": "planned", "bbox": _box_around(rng, *metro(), 8.0, 6.0),
             "interval": window(3)},
            {"kind": "xz2", "bbox": _box_around(rng, *metro(), 35.0, 25.0), "interval": None},
            {"kind": "tile", "bbox": _box_around(rng, *metro(), 8.0, 6.0), "interval": None},
            {"kind": "z3", "bbox": _box_around(rng, *metro(), 0.3, 0.2), "interval": window(5)},
            {"kind": "planned", "bbox": None, "interval": window(2)},
            {"kind": "planned", "bbox": (-180.0, -90.0, 180.0, 90.0), "interval": None},
            {"kind": "bbox", "bbox": city, "interval": None},
        ]

    def oracle(self):
        lon, lat = self.truth["lon"].to_numpy(), self.truth["lat"].to_numpy()
        db = oracles.StoreOracle(self.truth, self.rects_pdf)
        try:
            self.answers = [
                oracles.pyramid(oracles.density_grid(lon, lat, q["bbox"], self.TILE,
                                                     self.TILE), self.LEVELS)
                if q["kind"] == "tile" else db.answer(q) for q in self.mix]
        finally:
            db.close()

    def query(self, k: int):
        """Run mix entry ``k``; returns (k, result)."""
        tr, spark, p = self.tr, self.spark, self.paths
        q = self.mix[k]
        plan = None
        if q["kind"] == "tile":
            with tr.span("bbox_query", STORE):
                pts = bbox_query(spark, p["z2"], *q["bbox"])
            with tr.span("density_points", TILING):
                base = density_points(pts, "lon", "lat", *q["bbox"], self.TILE, self.TILE)
            with tr.span("density_pyramid", TILING):
                pyr = density_pyramid(base, self.LEVELS)
            with tr.span("collect", TILING, action=pyr):
                rows = pyr.collect()
            got = {(int(r["level"]), int(r["i"]), int(r["j"])): r["weight"] for r in rows}
            tr.count("tiling.cells_out", len(rows))
            store = "z2"
        else:
            layer = PLANNER if q["kind"] == "planned" else STORE
            with tr.span(q["kind"] + "_query", layer):
                if q["kind"] == "bbox":
                    df = bbox_query(spark, p["z2"], *q["bbox"])
                elif q["kind"] == "xz2":
                    df = bbox_query_xz2(spark, p["xz2"], *q["bbox"], digits=self.XZ2_DIGITS)
                elif q["kind"] == "z3":
                    df = stbox_query_z3(spark, p["z3"], *q["bbox"], *q["interval"],
                                        digits=self.Z3_DIGITS)
                else:
                    plan, df = planned_query(spark, {"z2": p["z2"], "z3": p["z3"]},
                                             bbox=q["bbox"], interval=q["interval"],
                                             z3_digits=self.Z3_DIGITS)
                ident = "rect_id" if q["kind"] == "xz2" else "page_id"
                agg = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(ident), F.lit(0)))
            with tr.span("collect", layer, action=agg):
                row = agg.collect()[0]
            got = (int(row[0]), int(row[1]))
            store = plan["chosen"].split(":")[-1] if plan else \
                {"bbox": "z2", "z3": "z3", "xz2": "xz2"}[q["kind"]]
        tr.count("queries", 1)
        tr.count("store.files_total", self.files_total[store])
        if plan:
            tr.count("planner.files_total", self.files_total[store])
        return k, got

    def job(self, i):
        out = []
        for k in range(len(self.mix)):
            t0 = time.perf_counter()
            out.append(self.query(k))
            self.query_walls.append(time.perf_counter() - t0)
        return self.parsed_rows, out

    def warmup(self):
        return self.parsed_rows, [self.query(0)]

    def check(self, out):
        parsed, results = out
        bad = []
        if parsed != len(self.truth):
            bad.append(f"geoparse kept {parsed} rows, oracle {len(self.truth)}")
        for k, got in results:
            want = self.answers[k]
            if got != want:
                q = self.mix[k]
                bad.append(f"query {k} ({q['kind']} {q['bbox']} {q['interval']}): "
                           f"{got if q['kind'] != 'tile' else len(got)} != "
                           f"{want if q['kind'] != 'tile' else len(want)}")
        return bad

    def corrupt(self, out, kind):
        parsed, results = out
        if kind == "parsed_rows":
            return parsed + 1, results
        tile = kind == "tile_cell"
        at = next((i for i, (k, _) in enumerate(results)
                   if (self.mix[k]["kind"] == "tile") == tile), None)
        if at is None or not results[at][1]:
            return None
        k, got = results[at]
        if tile:  # one more point in one cell
            cell = min(got)
            got = {**got, cell: got[cell] + 1}
        else:
            got = (got[0] + 1, got[1])
        return parsed, results[:at] + [(k, got)] + results[at + 1:]

    def teardown(self):
        for p in (*self.paths.values(), self.checkpoint):
            shutil.rmtree(p, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Joins, StoreQuery, PipJoin, GridKnn)}
