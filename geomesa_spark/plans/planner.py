"""Multi-index strategy decider: pick the cheapest index for a query.

The reference keeps several indexes over the same feature type (Z2, Z3,
attribute, ...) and picks one per query by comparing per-index costs
(geomesa-index-api .../planning/StrategyDecider.scala:40-120 — each
index reports whether it supports the filter and at what estimated
cost; the cheapest supporting index wins, with a full scan as the
last resort). This module re-expresses that over the hive-partitioned
parquet stores of :mod:`geomesa_spark.plans.store`.

Cost model: all stores index the SAME rows (the reference's model —
one feature type, many indexes), so cost == estimated fraction of
hive partitions the pruned scan must open:

- ``attr``: 1/max_buckets for the equality bucket, times the z2 prefix
  fraction when a bbox also prunes the secondary tier — the analog of
  the reference's attribute-equality cardinality estimate.
- ``z3``: covered (bin, prefix) pairs over total (bin, prefix) pairs;
  total bins come from a driver-side partition LISTING of the store
  (hive dir names — metadata only, the same LIST an object store
  serves; never a data read). Supports bbox+interval and interval-only
  (whole-world prefix set). Binned stores are NOT costed for a query
  with no temporal predicate: a bbox-only scan of a binned store would
  have to open every bin AND the null-dtg partition (whose rows a z2
  scan returns but a ``secs``-bounded z3 scan would drop), so the
  planner routes bbox-only queries to z2/xz2 or the full-scan
  fallback — preserving row-set invariance across strategies.
- ``z2``: covered z2 prefixes / 16^digits. Spatial only — a temporal
  predicate becomes a residual row filter, so z3 beats it whenever an
  interval actually prunes.
- ``xz2`` / ``xz3``: the extended-geometry siblings — identical cost
  shapes with the XZ prefix planners (XZSFC ranges over the
  radius-enlarged elements), so the decider covers the whole index
  family the reference's StrategyDecider ranks.
- ``full``: cost 1.0 over any available store — the guaranteed-support
  fallback (the reference's full-table scan strategy).

Every predicate is ALWAYS applied as an exact residual row filter on
the chosen scan, so strategy choice can never change the row set —
only how much of the store is opened to produce it (asserted by the
``store_plan`` driver query: planner output == plain filter oracle).

At 10^12 rows the partition listing is O(thousands) of names and each
candidate's cost is closed-form arithmetic over prefix counts; nothing
here scales with data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from .store import (
    _WEEK_S, attr_query, bbox_partition_prefixes, bbox_query,
    bbox_query_xz2, open_store, stbox_query_xz3, stbox_query_z3,
    xz2_partition_prefixes, xz3_partition_prefixes, z3_partition_prefixes,
)

__all__ = ["choose_strategy", "planned_query"]


def _list_partition_values(path: str, key: str) -> list[str]:
    """Hive partition values of ``key`` at the top level of ``path``
    (driver-side metadata listing; empty if the store is absent)."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    pre = key + "="
    return sorted(n[len(pre):] for n in names if n.startswith(pre))


def _binned_cost(path: str, bin_key: str, prefix_fn, bbox, interval,
                 digits: int) -> float | None:
    """Scanned-partition fraction for a week-binned spatio-temporal
    store (z3 or xz3 — ``prefix_fn`` is the per-bin offset-window
    prefix planner), or None if the store can't help (absent store, or
    no temporal predicate — a binned scan without an interval would
    both open every bin and drop null-dtg rows, see module doc)."""
    if interval is None:
        return None
    bins = _list_partition_values(path, bin_key)
    if not bins:
        return None
    per_bin_total = 16 ** digits
    # a null dtg writes __HIVE_DEFAULT_PARTITION__; such rows can never
    # match a temporal predicate, so they neither contribute scan cost
    # nor count toward the store's prunable-bin denominator
    ib = [int(v) for v in bins if v.lstrip("-").isdigit()]
    if not ib:
        return None
    t0, t1 = interval
    if t1 <= t0:
        return 0.0
    b0, b1 = t0 // _WEEK_S, (t1 - 1) // _WEEK_S
    q_bins = [b for b in ib if b0 <= b <= b1]
    x0, y0, x1, y1 = bbox if bbox is not None else (-180.0, -90.0, 180.0, 90.0)
    covered = 0
    for b in q_bins:
        off0 = max(t0 - b * _WEEK_S, 0)
        off1 = min(t1 - 1 - b * _WEEK_S, _WEEK_S - 1)
        covered += len(prefix_fn(x0, y0, x1, y1, off0, off1, digits))
    return covered / float(len(ib) * per_bin_total)


def _z3_cost(path: str, bbox, interval, digits: int) -> float | None:
    return _binned_cost(path, "z3_bin", z3_partition_prefixes,
                        bbox, interval, digits)


def _xz3_cost(path: str, bbox, interval, digits: int) -> float | None:
    return _binned_cost(path, "xz3_bin", xz3_partition_prefixes,
                        bbox, interval, digits)


def choose_strategy(stores: dict[str, str], *, bbox=None, interval=None,
                    attr_eq=None, z2_digits: int = 2, z3_digits: int = 2,
                    attr_digits: int = 1, max_buckets: int = 256) -> dict:
    """Rank every supporting index by estimated scanned-partition
    fraction and return ``{"chosen": name, "costs": {name: cost}}``.

    ``stores`` maps index names (any of ``z2``, ``z3``, ``attr`` for
    point stores; ``xz2``, ``xz3`` for extended-geometry stores — offer
    one family per call, they index different row types) to store
    paths; ``bbox=(x0, y0, x1, y1)``, ``interval=(t0, t1)`` epoch
    seconds half-open, ``attr_eq=(column, value)``.
    """
    costs: dict[str, float] = {}
    if attr_eq is not None and "attr" in stores:
        c = 1.0 / max_buckets
        if bbox is not None:
            pfx = bbox_partition_prefixes(*bbox, attr_digits)
            c *= len(pfx) / float(16 ** attr_digits)
        costs["attr"] = c
    if "z3" in stores and interval is not None:
        c = _z3_cost(stores["z3"], bbox, interval, z3_digits)
        if c is not None:
            costs["z3"] = c
    if "xz3" in stores and interval is not None:
        c = _xz3_cost(stores["xz3"], bbox, interval, z3_digits)
        if c is not None:
            costs["xz3"] = c
    if bbox is not None and "z2" in stores:
        pfx = bbox_partition_prefixes(*bbox, z2_digits)
        costs["z2"] = len(pfx) / float(16 ** z2_digits)
    if bbox is not None and "xz2" in stores:
        pfx = xz2_partition_prefixes(*bbox, z2_digits)
        costs["xz2"] = len(pfx) / float(16 ** z2_digits)
    if not costs:
        # no index supports the filter: full scan of any store
        # (the reference's full-table fallback strategy)
        name = sorted(stores)[0]
        return {"chosen": f"full:{name}", "costs": {f"full:{name}": 1.0}}
    chosen = min(sorted(costs), key=lambda k: costs[k])
    return {"chosen": chosen, "costs": costs}


def planned_query(spark, stores: dict[str, str], *, bbox=None,
                  interval=None, attr_eq=None, x: str = "lon",
                  y: str = "lat", secs: str = "secs",
                  z2_digits: int = 2, z3_digits: int = 2,
                  attr_digits: int = 1,
                  max_buckets: int = 256) -> tuple[dict, DataFrame]:
    """Choose the cheapest index, run its pruned scan, and apply EVERY
    predicate as an exact residual — the row set is independent of the
    strategy (only the scanned fraction differs). Returns
    ``(plan, DataFrame)`` with ``plan`` from :func:`choose_strategy`.

    Point stores (z2/z3/attr) filter the point columns ``x``/``y``;
    extended-geometry stores (xz2/xz3) filter the envelope sidecar
    columns (bbox residual = envelope OVERLAP, the reference's
    extended-geometry semantics).
    """
    plan = choose_strategy(stores, bbox=bbox, interval=interval,
                           attr_eq=attr_eq, z2_digits=z2_digits,
                           z3_digits=z3_digits, attr_digits=attr_digits,
                           max_buckets=max_buckets)
    chosen = plan["chosen"]
    extended = chosen in ("xz2", "xz3")
    wx0, wy0, wx1, wy1 = bbox if bbox is not None else (-180.0, -90.0,
                                                        180.0, 90.0)
    t0, t1 = interval if interval is not None else (0, 1 << 40)
    if chosen == "attr":
        col, val = attr_eq
        df = attr_query(spark, stores["attr"], col, val, bbox=bbox,
                        digits=attr_digits, max_buckets=max_buckets,
                        x=x, y=y)
    elif chosen == "z3":
        df = stbox_query_z3(spark, stores["z3"], wx0, wy0, wx1, wy1,
                            t0, t1, digits=z3_digits, x=x, y=y, secs=secs)
    elif chosen == "xz3":
        df = stbox_query_xz3(spark, stores["xz3"], wx0, wy0, wx1, wy1,
                             t0, t1, digits=z3_digits, secs=secs)
    elif chosen == "z2":
        df = bbox_query(spark, stores["z2"], *bbox, digits=z2_digits,
                        x=x, y=y)
    elif chosen == "xz2":
        df = bbox_query_xz2(spark, stores["xz2"], *bbox, digits=z2_digits)
    else:  # full:<name>
        df = open_store(spark, stores[chosen.split(":", 1)[1]])
        extended = "bx0" in df.columns
    # residuals: re-apply everything (cheap row predicates; pushed to
    # the parquet scan by Catalyst) so no strategy can under-filter
    if bbox is not None:
        if extended:
            df = df.filter((F.col("bx0") <= wx1) & (F.col("bx1") >= wx0)
                           & (F.col("by0") <= wy1) & (F.col("by1") >= wy0))
        else:
            df = df.filter((F.col(x) >= wx0) & (F.col(x) <= wx1)
                           & (F.col(y) >= wy0) & (F.col(y) <= wy1))
    if interval is not None:
        df = df.filter((F.col(secs) >= interval[0])
                       & (F.col(secs) < interval[1]))
    if attr_eq is not None:
        df = df.filter(F.col(attr_eq[0]) == F.lit(attr_eq[1]))
    return plan, df
