"""Driver-contract mirror: every oracle-checked query must match DuckDB
at sf0.01 (the exact scale the driver grades) — row count, column names,
and order-insensitive values.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return repr(val)  # exact double repr — bit-level compare
    if isinstance(val, bytes):
        return val.hex()
    return repr(val)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


# DuckDB types whose pandas materialization silently changes the value
# class (HUGEINT family -> float64: ``5`` becomes ``5.0`` and the
# driver's value-hash diverges even when both engines agree — the exact
# root cause of the r3/r4 ``shard_stats`` red rows).
_BAD_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT")
# Nested result columns crash the driver's pandas canonicalizer
# (``sort_values`` -> ``factorize`` -> "unhashable type: 'list'" — the
# r4 ``term_index`` red row).
_NESTED_MARKERS = ("[]", "STRUCT", "MAP(", "LIST", "UNION")


def _lint_duck_rel(name, rel):
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        assert t not in _BAD_DUCK_TYPES, (
            f"{name}: oracle column {col!r} is {t} — pandas materializes "
            f"it as float64 and the driver's value hash breaks; CAST it")
        assert not any(m in t for m in _NESTED_MARKERS), (
            f"{name}: oracle column {col!r} is nested ({t}) — the "
            f"driver's pandas canonicalizer cannot hash it; stringify it")


def _lint_spark_schema(name, sdf):
    from pyspark.sql.types import ArrayType, MapType, StructType
    for f in sdf.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}: result column {f.name!r} is {f.dataType.simpleString()}"
            f" — the driver's pandas canonicalizer cannot hash nested "
            f"cells; project a joined string instead")


def _pd_cell(val, duck_type):
    """Convert one pandas-materialized DuckDB cell back to the plain
    Python value Spark's collect() yields, so the value compare stays
    bit-exact.  The driver materializes oracles via pandas (``rel.df()``)
    — this path mirrors that, whereas ``fetchall()`` hid the HUGEINT
    float64 coercion for two rounds."""
    if val is None or val is pd.NaT:
        return None
    if isinstance(val, float):
        t = str(duck_type).upper()
        if not t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
            # Integer column with NULLs: pandas widens the whole column
            # to float64 (NaN for NULL, 5.0 for 5).  The driver widens
            # BOTH sides identically (Spark toPandas does the same), so
            # map back to Spark-collect()'s view: NaN -> None, 5.0 -> 5.
            return None if math.isnan(val) else int(val)
        return val
    if isinstance(val, pd.Timestamp):
        return (val.date() if str(duck_type).upper() == "DATE"
                else val.to_pydatetime())
    if isinstance(val, np.generic):
        return val.item()
    return val


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(spark, duck, name):
    _assert_oracle_match(spark, duck, name)


def test_shp_read_fresh_session(spark, duck):
    """The driver runs a query on a session where nothing is registered:
    ``newSession()`` shares the context but has its own function registry,
    so a query that uses st_* functions must register them itself."""
    _assert_oracle_match(spark.newSession(), duck, "shp_read")


def _assert_oracle_match(spark, duck, name):
    sdf = _QUERIES[name](spark, SF_DIR)
    _lint_spark_schema(name, sdf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(_ORACLES[name])
    _lint_duck_rel(name, rel)
    dcols = rel.columns
    dtypes = rel.types
    pdf = rel.df()  # the driver's materialization path (NOT fetchall)
    drows = [tuple(_pd_cell(v, t) for v, t in zip(row, dtypes))
             for row in pdf.itertuples(index=False, name=None)]

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mism = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b][:5]
    assert sset == dset, f"{name}: first mismatches {[(sset[i], dset[i]) for i in mism]}"


ROWS_ONLY = sorted(set(_QUERIES) - set(_ORACLES))


def test_every_query_has_an_oracle():
    """The rows-only fallback list is EMPTY — every queries() entry has
    a DuckDB oracle (the driver's strongest check). If this fires, a
    new query landed without an oracle_sql() entry."""
    assert ROWS_ONLY == []


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = _QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_ivf_recall(spark):
    """IVF with n_probe=n_centroids must equal exact top-k; fewer probes
    keep decent recall."""
    from pyspark.sql import functions as F

    from geomesa_spark.operators.ann import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"),
                                                F.col("embedding").alias("qvec"))
    exact = {(r["qid"], r["vec_id"]) for r in
             cosine_topk(q.withColumnRenamed("qvec", "embedding"), emb, k=5).collect()}
    full = {(r["qid"], r["vec_id"]) for r in
            ivf_topk(q, emb, k=5, n_centroids=8, n_probe=8).collect()}
    assert full == exact
    approx = {(r["qid"], r["vec_id"]) for r in
              ivf_topk(q, emb, k=5, n_centroids=8, n_probe=2).collect()}
    assert len(approx & exact) / len(exact) >= 0.6


def test_sketches_rank_exact_spine(spark):
    """The mergeable q_sketches quantiles (percentile_approx with
    accuracy > 2*n) must equal the exact order statistic at 1-indexed
    rank ceil(p*n) — the former global-sort spine, now living here —
    and be independent of partitioning / merge order."""
    import numpy as np

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    vals = np.sort(np.array([r[0] for r in ev.select("value").collect()]))
    n = len(vals)
    out = entry_mod.q_sketches(spark, SF_DIR).collect()[0].asDict()
    for name, p in entry_mod._SKETCH_QS:
        exact = vals[math.ceil(p * n) - 1]
        assert out[name] == exact, (name, out[name], exact)
    from pyspark.sql import functions as F
    for parts in (1, 7):
        alt = (ev.repartition(parts)
                 .agg(*[F.percentile_approx("value", F.lit(p),
                                            F.lit(entry_mod._SKETCH_ACC)).alias(nm)
                        for nm, p in entry_mod._SKETCH_QS]).collect()[0].asDict())
        for nm, _ in entry_mod._SKETCH_QS:
            assert alt[nm] == out[nm]


def test_queries_reorder_preserves_contract():
    """_reorder keeps every key, puts the never-driver-graded rotation
    list first (round-4: shard_stats regrade + the never-graded tail),
    and oracle_sql order tracks queries order."""
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(q) >= 200 and set(o) <= set(q)
    assert list(q)[:len(entry_mod._NEVER_GRADED_R5)] == entry_mod._NEVER_GRADED_R5
    front = [k for k in entry_mod._NEVER_GRADED_R5 if k in o]
    assert list(o)[:len(front)] == front
