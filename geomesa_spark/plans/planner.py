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
hive partitions the pruned scan must open. Every store named after a
``KEYSPACES`` entry is costed by one function, :func:`store_cost`, from
its keyspace's cover at the store's own prefix width, read from its
partition directories (``digits`` = 1 for a default-written store, so
16 prefixes per bin; a store written at 2 is priced over 256):

- unbinned (z2, xz2, s2): covered prefixes / 16^digits, if the query
  has a bbox. A temporal predicate stays a residual row filter, so a
  binned store beats it whenever an interval actually prunes.
- week-binned (z3, xz3, s3): covered (bin, prefix) pairs over total
  (bin, prefix) pairs, if the query has an interval (no bbox = the
  whole world). The bins come from a driver-side partition LISTING
  (hive dir names — the same LIST an object store serves; never a data
  read); the null-dtg ``__HIVE_DEFAULT_PARTITION__`` bin neither costs
  nor counts. A query with no interval never costs a binned store: its
  scan would open every bin and the null-dtg rows an interval-bounded
  scan drops, so bbox-only queries go to an unbinned store or the full
  scan — preserving row-set invariance across strategies.
- ``attr``: 1/max_buckets for the equality bucket, times its z2 tier's
  cost when a bbox also prunes it (the reference's attribute-equality
  cardinality estimate).
- ``full``: cost 1.0 over any available store — the guaranteed-support
  fallback (the reference's full-table scan strategy).

Every predicate is ALWAYS applied as an exact residual row filter on
the chosen scan, so strategy choice can never change the row set —
only how much of the store is opened to produce it (asserted by the
``store_plan*`` oracle queries: planner output == plain filter oracle).

At 10^12 rows the partition listing is O(thousands) of names and each
candidate's cost is closed-form arithmetic over prefix counts; nothing
here scales with data.
"""

from __future__ import annotations

import operator
import os
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .store import (
    _WEEK_S, _WORLD, ATTR, KEYSPACES, KeySpace, _local_widths, attr_query,
    bin_windows, open_store, prefix_digits, residual, scan_store,
)

__all__ = ["choose_strategy", "planned_query", "store_cost"]


def store_cost(ks: KeySpace, path: str, bbox, interval,
               digits: int | None = None) -> float | None:
    """Estimated fraction of the ``ks`` store's partitions at ``path``
    that its pruned scan opens, or None if the store can't help (see
    the module doc: no bbox for an unbinned store; no interval, or no
    dated bin on disk, for a binned one). ``digits`` is the store's
    prefix width, read from a local store's directories when None
    (:func:`~geomesa_spark.plans.store.prefix_digits`)."""
    digits = prefix_digits(_local_widths(path), ks.prefix, digits)
    total = 16 ** digits
    if ks.bin is None:
        if bbox is None:
            return None
        return len(ks.cover(bbox, 0, _WEEK_S - 1, digits)) / float(total)
    if interval is None:
        return None
    try:
        names = os.listdir(path)
    except OSError:  # absent store
        names = []
    pre = ks.bin + "="
    bins = [int(n[len(pre):]) for n in names
            if n.startswith(pre) and n[len(pre):].lstrip("-").isdigit()]
    if not bins:
        return None
    t0, t1 = interval
    if t1 <= t0:
        return 0.0
    covered = sum(len(ks.cover(bbox or _WORLD, off0, off1, digits)) * len(bs)
                  for (off0, off1), bs in bin_windows(t0, t1, bins).items())
    return covered / float(len(bins) * total)


def choose_strategy(stores: dict[str, str], *, bbox=None, interval=None,
                    attr_eq=None, z2_digits: int | None = None,
                    z3_digits: int | None = None,
                    attr_digits: int | None = None,
                    max_buckets: int = 256) -> dict:
    """Rank every supporting index by estimated scanned-partition
    fraction and return ``{"chosen": name, "costs": {name: cost}}``.

    ``stores`` maps index names (``attr`` or a KEYSPACES name: ``z2``,
    ``z3``, ``s2``, ``s3`` for point stores; ``xz2``, ``xz3`` for
    extended-geometry stores — offer one family per call, they index
    different row types) to store paths; ``bbox=(x0, y0, x1, y1)``,
    ``interval=(t0, t1)`` epoch seconds half-open,
    ``attr_eq=(column, value)``. Each store is priced at its own prefix
    width; ``z3_digits`` (binned keyspaces), ``z2_digits`` (unbinned)
    and ``attr_digits``, when given, are checked against the stores.
    """
    costs: dict[str, float] = {}
    for name, path in stores.items():
        if name == "attr":
            if attr_eq is not None:
                tier = 1.0 if bbox is None else store_cost(
                    ATTR, path, bbox, None, attr_digits)
                costs[name] = (1.0 / max_buckets) * tier
        elif name in KEYSPACES:
            ks = KEYSPACES[name]
            c = store_cost(ks, path, bbox, interval,
                           z2_digits if ks.bin is None else z3_digits)
            if c is not None:
                costs[name] = c
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
                  z2_digits: int | None = None,
                  z3_digits: int | None = None,
                  attr_digits: int | None = None,
                  max_buckets: int = 256) -> tuple[dict, DataFrame]:
    """Choose the cheapest index, run its pruned scan, and apply EVERY
    predicate as an exact residual — the row set is independent of the
    strategy (only the scanned fraction differs). Returns
    ``(plan, DataFrame)`` with ``plan`` from :func:`choose_strategy`.

    Point stores filter the point columns ``x``/``y``; extended-geometry
    stores (xz2/xz3) filter the envelope sidecar columns (bbox residual
    = envelope OVERLAP, the reference's extended-geometry semantics).
    """
    plan = choose_strategy(stores, bbox=bbox, interval=interval,
                           attr_eq=attr_eq, z2_digits=z2_digits,
                           z3_digits=z3_digits, attr_digits=attr_digits,
                           max_buckets=max_buckets)
    chosen = plan["chosen"]
    if chosen == "attr":
        df = attr_query(spark, stores["attr"], *attr_eq, bbox=bbox,
                        digits=attr_digits, max_buckets=max_buckets,
                        x=x, y=y)
        extended = False
    elif chosen in KEYSPACES:
        ks = KEYSPACES[chosen]
        df = scan_store(spark, stores[chosen], ks, bbox, interval,
                        z2_digits if ks.bin is None else z3_digits,
                        x=x, y=y, secs=secs)
        extended = ks.extended
    else:  # full:<name>
        df = open_store(spark, stores[chosen.split(":", 1)[1]])
        extended = "bx0" in df.columns
    # residuals: re-apply everything (cheap row predicates; pushed to
    # the parquet scan by Catalyst) so no strategy can under-filter
    exact = residual(extended, bbox, interval, x, y, secs)
    if attr_eq is not None:
        exact.append(F.col(attr_eq[0]) == F.lit(attr_eq[1]))
    return plan, (df.filter(reduce(operator.and_, exact)) if exact else df)
