"""Checkpointed, resumable pipeline runs with per-partition lineage.

north_rule: "resumable from Iceberg snapshot checkpoints with
per-partition lineage and metrics". Iceberg jars are not bundled in
this sandbox, so checkpoints are parquet snapshot directories with a
JSON manifest — the same snapshot/manifest/resume semantics, documented
as the Iceberg stand-in (on a real cluster, swap `_write_snapshot` for
`df.writeTo(table).createOrReplace()` and the manifest for the Iceberg
snapshot id).

Every stage write also records a lineage table: one row per output
partition with row count — the skew-visibility metric BASELINE.md asks
for (dense-urban partitions show up as fat rows here).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import MapConfig, DEFAULT_CONFIG
from .pipeline import build_street_network, convert_features

MANIFEST = "_manifest.json"


def _write_snapshot(df: DataFrame, path: str, stage: str,
                    fingerprint: str) -> dict:
    t0 = time.time()
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    lineage = (
        out.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("partition_id")
    )
    lineage_path = path + "_lineage"
    lineage.write.mode("overwrite").parquet(lineage_path)
    rows = out.count()
    parts = [r.asDict() for r in lineage.collect()]
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "rows": rows,
        "n_partitions": len(parts),
        "max_partition_rows": max((p["rows"] for p in parts), default=0),
        "wall_sec": round(time.time() - t0, 3),
        "lineage_path": lineage_path,
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _load_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def run_checkpointed(spark: SparkSession, docs: DataFrame, out_root: str,
                     cfg: MapConfig = DEFAULT_CONFIG,
                     fingerprint: str = "v1") -> dict:
    """Run the full street-network pipeline, snapshotting each output
    table. On re-run with the same fingerprint, completed snapshots are
    reused (resume-from-checkpoint); change the fingerprint to force
    recompute. Returns {stage: manifest}."""
    os.makedirs(out_root, exist_ok=True)
    stages = ["roads", "intersections", "features"]
    manifests: dict[str, dict] = {}
    for s in stages:
        m = _load_manifest(os.path.join(out_root, s))
        if m and m.get("fingerprint") == fingerprint:
            manifests[s] = m
    todo = [s for s in stages if s not in manifests]
    # the distributed network runs jobs while it is built (eager
    # checkpoints), so it is built only when a snapshot still needs it
    net = (build_street_network(spark, docs, cfg)
           if {"roads", "intersections"} & set(todo) else {})
    for s in todo:
        if s == "features":
            df = convert_features(docs, cfg)
        elif s == "roads":
            df = net[s].select("doc_id", "road_id", "way_id", "osm_way_ids",
                               "src_i", "dst_i", "highway_type", "name",
                               "lane_chars", "dir_chars", "total_width",
                               "trimmed_length", "center_xy")
        else:
            df = net[s].select("doc_id", "i_id", "qx", "qy", "kind",
                               "control", "movements_json", "polygon_xy")
        manifests[s] = _write_snapshot(df, os.path.join(out_root, s), s,
                                       fingerprint)
    return {s: manifests[s] for s in stages}
