"""Streaming ingest into the z2-indexed store — the write half of the
reference's live pipeline (KafkaDataStore feeding a persistent store /
the Lambda store's persistence tier: geomesa-lambda/.../stream/
TransientStore.scala persists expired entries to the durable store).

``stream_ingest_indexed`` runs a micro-batch ``foreachBatch`` sink:
each batch is staged by plans/store.write_store over the z2 keyspace
(the SAME write path as the batch writer — the two cannot drift) and
appended to the hive layout, so ALL existing store queries —
bbox_query, query_store, compact_store — run unmodified over a store
that is still being fed. A per-batch manifest JSON records row_count, the z2_p cell
histogram (the skew metric), and wall time — the lineage+metrics
discipline of plans/checkpoint.py at micro-batch grain.

Exactly-once under replay: Spark re-runs a failed micro-batch with the
SAME batch_id and (for replayable sources) the same rows. The sink is
idempotent across EVERY crash window, not just via the manifest check:

1. the batch writes to a private staging dir with mode=overwrite
   (replay after a crash mid-write simply rewrites it);
2. staged files move into the store partitions under DETERMINISTIC
   names ``batch-<id>-<i>.parquet`` with a pre-move sweep deleting any
   ``batch-<id>-*`` leftovers in each target partition (replay after a
   crash mid-move, or after the move but before the manifest, replaces
   its own earlier files instead of duplicating them);
3. the manifest is written last, atomic-by-rename — once it exists the
   batch is committed and replays return immediately.

Filesystem note: the manifest/rename bookkeeping uses the driver-local
``os`` API (this container's store is a local path). An object-storage
deployment swaps the four module-level ``_fs_*`` seam functions for
its client (S3 CopyObject+Delete for the rename); the protocol itself
— staged overwrite, deterministic names, sweep, manifest-last — is
storage-agnostic. At 100 TB the appends are new files in existing hive
partitions (no rewrite), and plans/store.compact_store bin-packs the
accumulated small files on whatever cadence the operator chooses.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame

from ..plans.store import (DIGITS, KEYSPACES, _local_widths, prefix_digits,
                           write_store)

__all__ = ["stream_ingest_indexed", "ingest_manifests"]

_MANIFEST_DIR = "_stream_manifests"


# object-storage seam: replace these four for a non-local store
def _fs_exists(p):
    return os.path.exists(p)


def _fs_makedirs(p):
    os.makedirs(p, exist_ok=True)


def _fs_replace(src, dst):
    os.replace(src, dst)


def _fs_rmtree(p):
    shutil.rmtree(p, ignore_errors=True)


def _batch_writer(path: str, x: str, y: str, digits: int, hist_top: int):
    from pyspark.sql import functions as F

    ks = KEYSPACES["z2"]
    prefix_digits(_local_widths(path), ks.prefix, digits)  # raises on another width
    mdir = os.path.join(path, _MANIFEST_DIR)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        mpath = os.path.join(mdir, f"batch-{batch_id}.json")
        if _fs_exists(mpath):  # committed batch -> replay is a no-op
            return
        t0 = time.monotonic()
        staging = os.path.join(path, "_staging", f"batch-{batch_id}")
        write_store(batch_df, staging, ks, digits, x=x, y=y)
        # publish: deterministic names + sweep = idempotent under replay
        moved = []
        for part in sorted(os.listdir(staging)):
            if not part.startswith("z2_p="):
                continue
            src_dir = os.path.join(staging, part)
            dst_dir = os.path.join(path, part)
            _fs_makedirs(dst_dir)
            for old in os.listdir(dst_dir):
                if old.startswith(f"batch-{batch_id}-"):
                    os.remove(os.path.join(dst_dir, old))
            files = sorted(f for f in os.listdir(src_dir)
                           if f.endswith(".parquet"))
            for i, f in enumerate(files):
                dst = os.path.join(dst_dir, f"batch-{batch_id}-{i}.parquet")
                _fs_replace(os.path.join(src_dir, f), dst)
                moved.append(dst)
        _fs_rmtree(staging)
        # lineage metrics over exactly the published files (bounded)
        if moved:
            spark = batch_df.sparkSession
            published = spark.read.option("basePath", path).parquet(*moved)
            hist = (published.groupBy("z2_p").count()
                             .orderBy(F.col("count").desc(), "z2_p")
                             .limit(hist_top).collect())
            n = published.count()
        else:  # empty micro-batch
            hist, n = [], 0
        _fs_makedirs(mdir)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "row_count": n,
                       "cell_histogram": {r["z2_p"]: r["count"]
                                          for r in hist},
                       "wall_s": round(time.monotonic() - t0, 3),
                       "written_at": time.time()}, f)
        _fs_replace(tmp, mpath)  # manifest commits the batch

    return write_batch


def stream_ingest_indexed(stream: DataFrame, path: str, checkpoint: str,
                          x: str = "lon", y: str = "lat", digits: int = DIGITS,
                          hist_top: int = 64, trigger: dict | None = None):
    """Start a streaming query appending ``stream`` (point rows) into
    the z2-partitioned store at ``path``. Returns the StreamingQuery.

    The result is a live plans/store store: bbox_query/query_store
    prune its partitions exactly as for a batch-written one, reading
    the prefix width from its directories. ``digits`` must be the width
    of the store already at ``path``, if any (ValueError otherwise): a
    store holding two widths could not be read."""
    writer = (stream.writeStream
              .foreachBatch(_batch_writer(path, x, y, digits, hist_top))
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def ingest_manifests(path: str) -> list[dict]:
    """Read back the per-batch lineage manifests, batch order. Ignores
    non-manifest files (e.g. a ``.tmp`` left by a crash mid-commit)."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted((n for n in os.listdir(mdir)
                        if n.startswith("batch-") and n.endswith(".json")),
                       key=lambda s: int(s.split("-")[1].split(".")[0])):
        with open(os.path.join(mdir, name)) as f:
            out.append(json.load(f))
    return out
