"""Reference answers computed without the engine.

Each oracle works on the generated numpy/pandas inputs only (numpy,
and DuckDB for the store counts). A workload compares every engine
result with one of these; a mismatch is a failed operation.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

# a point this close to a polygon edge (in degrees of cross product /
# edge length) may legitimately land on either side in another kernel's
# arithmetic; it is counted as "either"
EDGE_EPS = 1e-9


def pip_counts(px: np.ndarray, py: np.ndarray, rings: np.ndarray):
    """Strict point-in-convex-polygon counts per polygon by half-planes.

    ``rings`` is (n, v+1, 2), counter-clockwise and closed. Returns
    (sure, ambiguous): per polygon, the points strictly inside by more
    than EDGE_EPS, and the points within EDGE_EPS of an edge.
    """
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    sure = np.zeros(len(rings), dtype=np.int64)
    amb = np.zeros(len(rings), dtype=np.int64)
    for k, ring in enumerate(rings):
        lo, hi = np.searchsorted(sx, [ring[:, 0].min(), ring[:, 0].max()])
        x, y = sx[lo:hi], sy[lo:hi]
        m = (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        x, y = x[m], y[m]
        a, b = ring[:-1], ring[1:]
        ex, ey = b[:, 0] - a[:, 0], b[:, 1] - a[:, 1]
        elen = np.hypot(ex, ey)
        # signed distance of every point to every edge's line, > 0 inside
        d = ((ex[None, :] * (y[:, None] - a[None, :, 1])
              - ey[None, :] * (x[:, None] - a[None, :, 0])) / elen[None, :])
        dmin = d.min(axis=1)
        sure[k] = int((dmin > EDGE_EPS).sum())
        amb[k] = int((np.abs(dmin) <= EDGE_EPS).sum())
    return sure, amb


def pip_check(counts: dict, sure: np.ndarray, amb: np.ndarray) -> list[str]:
    """Compare an engine {poly_id: count} with the oracle bounds."""
    bad = []
    for pid in range(len(sure)):
        got = counts.get(pid, 0)
        if not sure[pid] <= got <= sure[pid] + amb[pid]:
            bad.append(f"poly {pid}: engine {got}, oracle {sure[pid]}"
                       f" (+{amb[pid]} on edge)")
    extra = set(counts) - set(range(len(sure)))
    if extra:
        bad.append(f"unknown polygon ids {sorted(extra)[:5]}")
    return bad


def rect_pairs(left: pd.DataFrame, right: pd.DataFrame,
               left_ids: np.ndarray) -> dict[int, np.ndarray]:
    """Brute force closed-rectangle intersection for the given left ids:
    {left id: sorted right ids}."""
    lx = left.set_index("id").loc[left_ids]
    r0, r1 = right["x0"].to_numpy(), right["x1"].to_numpy()
    s0, s1 = right["y0"].to_numpy(), right["y1"].to_numpy()
    rid = right["id"].to_numpy()
    out = {}
    for lid, row in zip(left_ids, lx.itertuples()):
        hit = ((r0 <= row.x1) & (row.x0 <= r1) & (s0 <= row.y1) & (row.y0 <= s1))
        out[int(lid)] = np.sort(rid[hit])
    return out


def pair_digest(pairs: dict[int, np.ndarray], mult: int) -> tuple[int, int, int]:
    """(pairs, sum(lid * mult + rid), sum(rid * rid)) — the same digest the
    engine side computes in SQL over the sampled left rows."""
    n = s1 = s2 = 0
    for lid, rids in pairs.items():
        r = rids.astype(np.int64)
        n += len(r)
        s1 += int((lid * mult + r).sum())
        s2 += int((r * r).sum())
    return n, s1, s2


def knn_brute(qx, qy, qid, px, py, pid, k: int) -> dict[int, list[int]]:
    """Exact k nearest ids per query, cartesian degrees, ties by (dist, id).
    The distance expression matches the engine's operation order, so equal
    distances compare equal on both sides."""
    out = {}
    for x, y, q in zip(qx, qy, qid):
        dx, dy = x - px, y - py
        d = np.sqrt(dx * dx + dy * dy)
        part = np.argpartition(d, k)[:k + 1] if len(d) > k + 1 else np.arange(len(d))
        # widen to every point tied with the k-th distance before ranking
        kth = np.sort(d[part])[min(k, len(part)) - 1]
        cand = np.flatnonzero(d <= kth)
        rank = np.lexsort((pid[cand], d[cand]))[:k]
        out[int(q)] = [int(v) for v in pid[cand][rank]]
    return out


class StoreOracle:
    """DuckDB over the generated point and rectangle tables."""

    def __init__(self, points: pd.DataFrame, rects: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("pts", points)
        self.con.register("rects", rects.drop(columns=["geom"]))

    def answer(self, q: dict) -> tuple[int, int]:
        """(count, sum of ids) the query must return."""
        conds = []
        ident = "page_id"
        if q["kind"] == "xz2":
            x0, y0, x1, y1 = q["bbox"]
            table, ident = "rects", "rect_id"
            conds.append(f"x0 <= {x1!r} AND x1 >= {x0!r} AND y0 <= {y1!r} AND y1 >= {y0!r}")
        else:
            table = "pts"
            if q["bbox"] is not None:
                x0, y0, x1, y1 = q["bbox"]
                conds.append(f"lon BETWEEN {x0!r} AND {x1!r} AND lat BETWEEN {y0!r} AND {y1!r}")
            if q["interval"] is not None:
                t0, t1 = q["interval"]
                conds.append(f"secs >= {t0} AND secs < {t1}")
        where = " AND ".join(conds) or "TRUE"
        n, s = self.con.execute(
            f"SELECT count(*)::BIGINT, coalesce(sum({ident}), 0)::BIGINT"
            f" FROM {table} WHERE {where}"
        ).fetchone()
        return int(n), int(s)

    def close(self) -> None:
        self.con.close()


def density_grid(lon: np.ndarray, lat: np.ndarray, env, w: int, h: int):
    """GridSnap cell counts: {(i, j): count} for points inside the closed
    envelope, i = min(floor((x - xmin) / dx), w - 1), likewise j."""
    xmin, ymin, xmax, ymax = env
    dx = (xmax - xmin) / w
    dy = (ymax - ymin) / h
    m = (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
    i = np.minimum(np.floor((lon[m] - xmin) / dx), w - 1).astype(np.int64)
    j = np.minimum(np.floor((lat[m] - ymin) / dy), h - 1).astype(np.int64)
    key, cnt = np.unique(i * (h + 1) + j, return_counts=True)
    return {(int(a // (h + 1)), int(a % (h + 1))): int(c) for a, c in zip(key, cnt)}


def pyramid(base: dict, levels: int) -> dict:
    """{(level, i, j): count} for levels ``levels`` down to 0, each coarser
    level halving both axes."""
    out = {}
    for (i, j), c in base.items():
        for lvl in range(levels, -1, -1):
            s = levels - lvl
            key = (lvl, i >> s, j >> s)
            out[key] = out.get(key, 0) + c
    return out
