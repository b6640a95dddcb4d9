"""Stat-spec DSL: the reference's stats query strings on DataFrames.

GeoMesa exposes server-side mergeable statistics through a small spec
language (geomesa-index-api .../stats/Stat.scala:195-312 — e.g.
``"Count();MinMax(alt);TopK(track);Histogram(alt,10,0,1000)"``), run as
partial sketches on storage nodes and merged client-side. Spark's
partial+final aggregation is the same execution shape, so each spec term
maps onto built-in aggregate expressions:

| spec                        | Spark expression                            |
|-----------------------------|---------------------------------------------|
| Count()                     | count(*)                                    |
| MinMax(a)                   | min(a), max(a)                              |
| Enumeration(a)              | value -> count map (exact, capped)          |
| TopK(a[, k])                | k most frequent values (exact tie-broken)   |
| Frequency(a)                | count_min_sketch bytes (mergeable)          |
| Histogram(a, bins, lo, hi)  | equi-width binned counts                    |
| DescriptiveStats(a)         | count/mean/stddev/min/max                   |
| Cardinality(a)              | approx_count_distinct (HLL++, mergeable —   |
|                             | stats/clearspring/HyperLogLog.scala)        |
| Z3Histogram(x, y, t[, lvl]) | counts per coarse (week-bin, z3 cell)       |
|                             | (stats/impl/Z3Histogram.scala)              |
| Z3Frequency(x, y, t[, lvl]) | count_min_sketch over the z3 key            |
|                             | (stats/impl/Z3Frequency.scala)              |
| IteratorStackCount()        | partition count (the reference's iterator   |
|                             | invocation counter)                         |
| GroupBy(a, <stat>)          | any of the above per group                  |

``run_stats`` returns {label: python value} — the "merged sketch" the
reference's StatsScan hands back, computed in ONE aggregation job for
all terms (plus one per grouped term).

Driver-safety: grouped terms (Enumeration, Z3Histogram, GroupBy) collect
at most ``max_enum`` rows (most-frequent first, deterministic tie-break) —
a high-cardinality attribute at 100x scale must not OOM the driver. The
unbounded variant is a DataFrame the caller can write out instead; use
``enumerate_values`` for that.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..curves import zexpr

__all__ = ["parse_stats", "run_stats", "enumerate_values", "z3_cell_exprs",
           "group_entropy"]

_TERM_RE = re.compile(r"\s*([A-Za-z][A-Za-z0-9]*)\s*\(([^()]*(?:\([^()]*\))?)\s*\)\s*")


def parse_stats(spec: str) -> list[tuple[str, list[str]]]:
    """'Count();MinMax(a);GroupBy(b,Count())' -> [(name, args), ...]."""
    out = []
    for part in filter(None, (p.strip() for p in spec.split(";"))):
        m = _TERM_RE.fullmatch(part)
        if not m:
            raise ValueError(f"bad stat spec term: {part!r}")
        name = m.group(1)
        raw = m.group(2).strip()
        args = [a.strip() for a in re.split(r",(?![^()]*\))", raw)] if raw else []
        out.append((name, args))
    return out


def z3_cell_exprs(df: DataFrame, x: str, y: str, t: str, level: int = 5):
    """``df`` with its coarse z3 cell, and the (week-bin, cell) Column pair
    over it: the Z3SFC index truncated to ``level`` bits per dimension,
    inside whole-stage codegen (curves/zexpr.py, no Python)."""
    name = f"__z3_{x}_{y}_{t}_{level}__"
    return zexpr.with_z3(df, name, x, y, t, level), zexpr.week_bin(t), F.col(name)


def enumerate_values(df: DataFrame, attr: str) -> DataFrame:
    """Unbounded Enumeration as a DataFrame (value, count) — the scale
    path: write it out instead of collecting it."""
    return df.groupBy(attr).count()


def _simple_aggs(df: DataFrame, name: str, args: list[str], label: str):
    """(``df``, aggregate columns) for one non-grouped term; a term whose
    aggregate reads a derived column adds it to ``df``."""
    if name == "Count":
        return df, [F.count(F.lit(1)).alias(label)]
    if name == "MinMax":
        (a,) = args
        return df, [F.min(a).alias(f"{label}_min"), F.max(a).alias(f"{label}_max")]
    if name == "Frequency":
        (a,) = args
        return df, [F.count_min_sketch(F.col(a), F.lit(0.001), F.lit(0.99),
                                       F.lit(42)).alias(label)]
    if name == "Cardinality":
        (a,) = args
        return df, [F.approx_count_distinct(a).alias(label)]
    if name == "Z3Frequency":
        x, y, t = args[0], args[1], args[2]
        level = int(args[3]) if len(args) > 3 else 5
        df, bin_, cell = z3_cell_exprs(df, x, y, t, level)
        key = F.shiftleft(bin_, 3 * level + 1) + cell
        return df, [F.count_min_sketch(key, F.lit(0.001), F.lit(0.99),
                                       F.lit(42)).alias(label)]
    if name == "DescriptiveStats":
        (a,) = args
        return df, [F.count(a).alias(f"{label}_count"),
                    F.avg(a).alias(f"{label}_mean"),
                    F.stddev_samp(a).alias(f"{label}_stddev"),
                    F.min(a).alias(f"{label}_min"),
                    F.max(a).alias(f"{label}_max")]
    raise ValueError(f"unsupported stat: {name}")


def run_stats(df: DataFrame, spec: str, max_enum: int = 10_000) -> dict:
    """Evaluate a stat spec string; returns {label: value}.

    Enumeration/TopK/Histogram/Z3Histogram/GroupBy evaluate as grouped
    counts (one extra job each); everything else folds into a single
    aggregation. Grouped results are capped at ``max_enum`` rows
    (most-frequent first) so a high-cardinality attribute cannot OOM the
    driver; use ``enumerate_values`` for the unbounded DataFrame."""
    terms = parse_stats(spec)
    result: dict = {}
    simple = []
    used: set = set()

    def uniq(lbl: str) -> str:
        # two terms sharing a base label (e.g. Histogram(a,10,..) and
        # Histogram(a,20,..), or Z3Frequency at two levels) must not
        # silently overwrite each other in the result dict
        if lbl not in used:
            used.add(lbl)
            return lbl
        k = 2
        while f"{lbl}_{k}" in used:
            k += 1
        used.add(f"{lbl}_{k}")
        return f"{lbl}_{k}"

    for idx, (name, args) in enumerate(terms):
        label = uniq(f"{name.lower()}_{args[0]}" if args else name.lower())
        if name in ("Enumeration", "TopK"):
            a = args[0]
            k = (int(args[1]) if name == "TopK" and len(args) > 1 else 10) \
                if name == "TopK" else max_enum
            counts = (df.groupBy(a).count()
                        .orderBy(F.col("count").desc(), F.col(a).asc())
                        .limit(k))
            result[label] = {r[0]: r[1] for r in counts.collect()}
        elif name == "Histogram":
            a, bins, lo, hi = args[0], int(args[1]), float(args[2]), float(args[3])
            width = (hi - lo) / bins
            bin_idx = F.least(F.greatest(
                F.floor((F.col(a) - F.lit(lo)) / F.lit(width)), F.lit(0)),
                F.lit(bins - 1)).cast("int")
            rows = (df.filter(F.col(a).isNotNull())
                      .groupBy(bin_idx.alias("bin")).count().collect())
            hist = [0] * bins
            for r in rows:
                hist[r["bin"]] = r["count"]
            result[label] = hist
        elif name == "Z3Histogram":
            x, y, t = args[0], args[1], args[2]
            level = int(args[3]) if len(args) > 3 else 5
            zdf, bin_, cell = z3_cell_exprs(df, x, y, t, level)
            rows = (zdf.groupBy(bin_.alias("bin"), cell.alias("cell")).count()
                      .orderBy(F.col("count").desc(), F.col("bin").asc(),
                               F.col("cell").asc())
                      .limit(max_enum).collect())
            # level in the key: two Z3Histogram terms over the same
            # columns at different levels must not overwrite each other
            result[uniq(f"z3histogram_{x}_{y}_{t}_{level}")] = {
                (r["bin"], r["cell"]): r["count"] for r in rows}
        elif name == "IteratorStackCount":
            result[label] = (df.select(F.spark_partition_id().alias("p"))
                               .distinct().count())
        elif name == "GroupBy":
            key = args[0]
            sub_name, sub_args = parse_stats(args[1])[0]
            sub_label = (f"{sub_name.lower()}_{sub_args[0]}"
                         if sub_args else sub_name.lower())
            gdf, aggs = _simple_aggs(df, sub_name, sub_args, sub_label)
            # cap keeps the LARGEST groups (the docstring's most-frequent-
            # first contract) — ascending-key truncation would drop
            # exactly the hot groups a stats consumer wants
            rows = (gdf.groupBy(key).agg(F.count("*").alias("__n__"), *aggs)
                      .orderBy(F.col("__n__").desc(), F.col(key).asc())
                      .limit(max_enum).collect())
            result[uniq(f"groupby_{key}_{sub_label}")] = {
                r[0]: (r[2] if len(r) == 3 else tuple(r)[2:]) for r in rows}
        else:
            df, aggs = _simple_aggs(df, name, args, label)
            simple.extend(aggs)
    if simple:
        row = df.agg(*simple).collect()[0]
        for field, value in zip(row.__fields__, row):
            result[field] = value
    return result


def group_entropy(df: DataFrame, group_cols: list[str], key_col: str,
                  deterministic: bool = False) -> DataFrame:
    """Shannon entropy of the ``key_col`` distribution within each
    ``group_cols`` group — the diversity surface ("how many DIFFERENT
    visitors does this cell see, weighted by share"): 0 for a
    single-key group, ln(k) for k equally frequent keys. The classic
    mobility/segmentation signal (tourist cell vs commuter cell), and
    host-visitor diversity when grouped by site.

    Computed via the streaming identity  H = ln N - (sum n*ln n) / N
    over the per-key counts n — so the default path is TWO combining
    aggregations (per (group, key), then per group) with no
    collect_list: a mega-group (a hot cell with millions of distinct
    keys) never materializes an array. ``deterministic=True`` switches
    the second stage to a key-ordered left fold (collect_list +
    array_sort + F.aggregate — the idw convention) for bit-reproducible
    cross-engine parity; use it only where group cardinality is
    bounded (the gate query). float32 output absorbs ln ulps either
    way.

    Returns (group..., n_events, n_keys, entropy32).
    """
    if not group_cols:
        raise ValueError("group_entropy needs at least one group column")
    cnt = (df.groupBy(*group_cols, key_col)
             .agg(F.count("*").alias("__n__")))
    nln = F.col("__n__").cast("double") * F.log(F.col("__n__").cast("double"))
    if deterministic:
        arr = F.array_sort(F.collect_list(
            F.struct(F.col(key_col).alias("k"), F.col("__n__").alias("n"))))
        g = cnt.groupBy(*group_cols).agg(
            F.sum("__n__").alias("__N__"),
            F.count("*").alias("n_keys"),
            F.aggregate(arr, F.lit(0.0),
                        lambda acc, s: acc
                        + s.getField("n").cast("double")
                        * F.log(s.getField("n").cast("double")))
             .alias("__s__"))
    else:
        g = cnt.groupBy(*group_cols).agg(
            F.sum("__n__").alias("__N__"),
            F.count("*").alias("n_keys"),
            F.sum(nln).alias("__s__"))
    ent = (F.log(F.col("__N__").cast("double"))
           - F.col("__s__") / F.col("__N__").cast("double"))
    return g.select(*group_cols,
                    F.col("__N__").alias("n_events"),
                    F.col("n_keys"),
                    ent.cast("float").alias("entropy32"))
