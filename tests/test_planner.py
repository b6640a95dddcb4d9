"""Multi-index strategy decider (plans/planner): selection + row-set
invariance across strategies.

Reference shape: StrategyDecider.scala — each index reports support +
cost, cheapest wins, full scan is the fallback. Here cost == estimated
scanned-partition fraction, so the assertions below pin the ORDERING a
sound cost model must produce, and the row-set test pins the planner's
core contract: the chosen strategy never changes the answer.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from geomesa_spark.plans.planner import (  # noqa: E402
    choose_strategy, planned_query, store_cost)
from geomesa_spark.plans.store import (  # noqa: E402
    DIGITS, KEYSPACES, write_indexed, write_indexed_attr, write_indexed_z3)

BBOX = (-60.0, -30.0, 60.0, 45.0)
T0, T1 = 1704672000, 1705881600  # Jan 8 - Jan 22 2024 (2 of ~5 weeks)


def _points(spark, n=4000):
    return (spark.range(n).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
        (F.lit(1704067200) + (F.col("id") * 977) % (35 * 86400)).alias("secs"),
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("kind")))


def _stores(spark, tmp_path, digits=DIGITS):
    pts = _points(spark)
    stores = {k: str(tmp_path / k) for k in ("z2", "z3", "attr")}
    write_indexed(pts, stores["z2"], digits=digits)
    write_indexed_z3(pts, stores["z3"], digits=digits)
    write_indexed_attr(pts, stores["attr"], "kind", digits=digits)
    return pts, stores


def test_strategy_ordering(spark, tmp_path):
    # 2-char stores: at the 1-char default a z3 prefix holds one bit of
    # x and of y, and BBOX x (T0, T1) prices z2 and z3 alike (6 of 16
    # prefixes, 36 of 96 (bin, prefix) pairs)
    _, stores = _stores(spark, tmp_path, digits=2)

    # attr equality present -> attr index wins (1/256 bucket fraction)
    p = choose_strategy(stores, bbox=BBOX, interval=(T0, T1),
                        attr_eq=("kind", "k3"))
    assert p["chosen"] == "attr"
    assert p["costs"]["attr"] < p["costs"]["z3"] <= 1.0

    # bbox+interval, no attr -> z3 beats z2 (bin pruning multiplies the
    # spatial fraction by the covered-bin fraction)
    p = choose_strategy(stores, bbox=BBOX, interval=(T0, T1))
    assert p["chosen"] == "z3"
    assert p["costs"]["z3"] < p["costs"]["z2"]

    # interval-only -> only z3 supports it
    p = choose_strategy(stores, interval=(T0, T1))
    assert p["chosen"] == "z3" and "z2" not in p["costs"]

    # bbox-only -> the UNBINNED spatial index; binned stores are never
    # costed without a temporal predicate (a z3 scan would open every
    # bin and drop null-dtg rows — row-set invariance would break)
    p = choose_strategy(stores, bbox=BBOX)
    assert p["chosen"] == "z2"
    assert "attr" not in p["costs"] and "z3" not in p["costs"]

    # no predicate at all -> explicit full-scan fallback at cost 1.0
    p = choose_strategy(stores)
    assert p["chosen"].startswith("full:") and 1.0 in p["costs"].values()

    # empty interval -> z3 reports cost 0 (provably-empty scan)
    p = choose_strategy(stores, bbox=BBOX, interval=(T1, T0))
    assert p["costs"]["z3"] == 0.0


def test_row_set_invariant_across_strategies(spark, tmp_path):
    """Every strategy — forced by restricting the offered stores — must
    return the identical row set for the same predicates."""
    pts, stores = _stores(spark, tmp_path)
    want = {r["pid"] for r in pts.filter(
        (F.col("lon") >= BBOX[0]) & (F.col("lon") <= BBOX[2])
        & (F.col("lat") >= BBOX[1]) & (F.col("lat") <= BBOX[3])
        & (F.col("secs") >= T0) & (F.col("secs") < T1)
        & (F.col("kind") == "k3")).collect()}
    assert want  # non-trivial scenario
    for offer in (stores,                       # decider picks attr
                  {"z3": stores["z3"]},         # forced z3
                  {"z2": stores["z2"]},         # forced z2
                  ):
        plan, df = planned_query(spark, offer, bbox=BBOX,
                                 interval=(T0, T1), attr_eq=("kind", "k3"),
                                 secs="secs")
        got = {r["pid"] for r in df.collect()}
        assert got == want, plan


def test_extended_family_ordering_and_rows(spark, tmp_path):
    """xz2/xz3 branch: bbox+interval ranks xz3 over xz2 (bin pruning);
    row set equals the plain envelope+time filter whichever index
    runs (bbox-only never costs xz3 — see the bbox-only tests)."""
    from geomesa_spark.geom.wkb import Polygon, wkb_write
    from geomesa_spark.plans.store import write_indexed_xz2, write_store
    import numpy as np

    rng = np.random.RandomState(7)
    base = 1704067200
    rows = []
    for i in range(600):
        cx, cy = rng.uniform(-160, 160), rng.uniform(-70, 70)
        w, h = rng.uniform(0.2, 5.0), rng.uniform(0.2, 5.0)
        t = int(base + rng.randint(0, 30 * 86400))
        ring = np.array([[cx - w, cy - h], [cx - w, cy + h],
                         [cx + w, cy + h], [cx + w, cy - h],
                         [cx - w, cy - h]])
        rows.append((i, bytes(wkb_write(Polygon(ring))), t,
                     cx - w, cy - h, cx + w, cy + h))
    df = spark.createDataFrame([(r[0], r[1], r[2]) for r in rows],
                               "gid long, geom binary, secs long")
    stores = {"xz2": str(tmp_path / "xz2"), "xz3": str(tmp_path / "xz3")}
    write_indexed_xz2(df, stores["xz2"])
    write_store(df, stores["xz3"], KEYSPACES["xz3"])

    bbox = (-30.0, -25.0, 30.0, 25.0)
    t0, t1 = base + 4 * 86400, base + 16 * 86400
    p = choose_strategy(stores, bbox=bbox, interval=(t0, t1))
    assert p["chosen"] == "xz3"
    assert p["costs"]["xz3"] < p["costs"]["xz2"]

    plan, out = planned_query(spark, stores, bbox=bbox, interval=(t0, t1))
    got = {r["gid"] for r in out.collect()}
    want = {r[0] for r in rows
            if r[3] <= bbox[2] and r[5] >= bbox[0]
            and r[4] <= bbox[3] and r[6] >= bbox[1] and t0 <= r[2] < t1}
    assert got == want and got

    # forced xz2: identical row set through the other index
    plan2, out2 = planned_query(spark, {"xz2": stores["xz2"]},
                                bbox=bbox, interval=(t0, t1))
    assert plan2["chosen"] == "xz2"
    assert {r["gid"] for r in out2.collect()} == want


def test_store_cost_prices_each_store_at_its_own_width(spark, tmp_path):
    """A 1-char and a 2-char store of the same rows are each priced over
    their own prefix count, with no width passed; a width the store does
    not hold raises."""
    pts = _points(spark)
    z2, z3 = KEYSPACES["z2"], KEYSPACES["z3"]
    for d in (1, 2):
        p2, p3 = str(tmp_path / f"z2_{d}"), str(tmp_path / f"z3_{d}")
        write_indexed(pts, p2, digits=d)
        write_indexed_z3(pts, p3, digits=d)
        assert store_cost(z2, p2, BBOX, None) == \
            len(z2.cover(BBOX, 0, 0, d)) / 16 ** d
        assert store_cost(z3, p3, BBOX, (T0, T1)) == \
            store_cost(z3, p3, BBOX, (T0, T1), d) > 0
        with pytest.raises(ValueError, match="hex chars"):
            store_cost(z2, p2, BBOX, None, 3 - d)
        with pytest.raises(ValueError, match="hex chars"):
            choose_strategy({"z2": p2, "z3": p3}, bbox=BBOX,
                            interval=(T0, T1), z3_digits=3 - d)


def test_binned_cost_ignores_hive_default_partition(tmp_path):
    """A __HIVE_DEFAULT_PARTITION__ bin dir (null dtg rows) must not
    crash the cost model; a store with ONLY that dir can't help."""
    p = tmp_path / "z3null"
    (p / "z3_bin=__HIVE_DEFAULT_PARTITION__").mkdir(parents=True)
    assert store_cost(KEYSPACES["z3"], str(p), (-10.0, -10.0, 10.0, 10.0),
                      (0, 604800), 2) is None
    (p / "z3_bin=0").mkdir()
    c = store_cost(KEYSPACES["z3"], str(p), (-10.0, -10.0, 10.0, 10.0),
                   (0, 604800), 2)
    assert c is not None and 0 < c <= 1.0


def test_full_scan_fallback_rows(spark, tmp_path):
    pts, stores = _stores(spark, tmp_path)
    plan, df = planned_query(spark, {"z2": stores["z2"]},
                             attr_eq=("kind", "k1"))
    assert plan["chosen"] == "full:z2"
    assert df.count() == pts.filter(F.col("kind") == "k1").count()


def test_bbox_only_on_binned_store_full_scans_and_keeps_null_dtg(
        spark, tmp_path):
    """A bbox-only query offered ONLY a binned (z3) store must take the
    full-scan fallback — never a synthetic-interval binned scan, which
    would loop over millions of week bins and silently drop null-dtg
    rows (__HIVE_DEFAULT_PARTITION__).  Row set must equal the z2
    answer including the null-dtg rows."""
    pts = _points(spark, 2000)
    # null out dtg for every 5th row: these land in the store's
    # __HIVE_DEFAULT_PARTITION__ bin and have no temporal identity
    pts = pts.withColumn(
        "secs", F.when(F.col("pid") % 5 == 0, F.lit(None)).otherwise(
            F.col("secs")))
    z3p = str(tmp_path / "z3n")
    write_indexed_z3(pts, z3p)
    # a null dtg has no week bin: those rows land in the null partition
    assert os.path.isdir(os.path.join(z3p, "z3_bin=__HIVE_DEFAULT_PARTITION__"))

    p = choose_strategy({"z3": z3p}, bbox=BBOX)
    assert p["chosen"] == "full:z3" and p["costs"] == {"full:z3": 1.0}

    plan, df = planned_query(spark, {"z3": z3p}, bbox=BBOX, secs="secs")
    got = {r["pid"] for r in df.collect()}
    want = {r["pid"] for r in pts.filter(
        (F.col("lon") >= BBOX[0]) & (F.col("lon") <= BBOX[2])
        & (F.col("lat") >= BBOX[1]) & (F.col("lat") <= BBOX[3])).collect()}
    assert got == want
    # the scenario is non-trivial: some matching rows have null dtg
    assert any(pid % 5 == 0 for pid in want)


def test_binned_cost_denominator_excludes_null_bin(tmp_path):
    """The null-dtg partition dir must not inflate the prunable-bin
    denominator: a store with one integer bin + the null dir prices a
    full-week interval exactly like a store with the bin alone."""
    a = tmp_path / "plain"
    (a / "z3_bin=0").mkdir(parents=True)
    b = tmp_path / "withnull"
    (b / "z3_bin=0").mkdir(parents=True)
    (b / "z3_bin=__HIVE_DEFAULT_PARTITION__").mkdir()
    bbox = (-10.0, -10.0, 10.0, 10.0)
    ca = store_cost(KEYSPACES["z3"], str(a), bbox, (0, 604800), 2)
    cb = store_cost(KEYSPACES["z3"], str(b), bbox, (0, 604800), 2)
    assert ca is not None and ca == cb
