"""The street-network pipeline: documents in, rendered features out.

The flagship feature table is ONE per-document pass (convert_features):

    documents ──doc_id repartition──▶ mapInPandas(convert_document
                                                  + feature_rows)

The per-document kernel (plans/sequential.py) parses, splits, infers
lanes, runs both T6 passes and the transform fixpoint, rebuilds the
trimmed center lines and renders every road/intersection polygon with
its tile assignment, all inside one Python crossing per Arrow batch.
No operator crosses documents, so the load_documents repartition is the
only shuffle, and partitions stay proportional to the data.

build_street_network exposes the intermediate tables (nodes, ways,
roads, intersections, trims) as the distributed plan for the registry's
graph and render-layer queries:

documents ──parse──▶ nodes/ways/relations
  ─F2 filter─▶ ways ─K1 lanes─▶ way attrs
  ─J1 point agg─▶ intersections(v0)   ─W1 window split─▶ roads(v0)
  ─T6 pass 1 (trims only)─▶ too_short flags
  ─T4/T1/T2/T1 per-doc rewrite─▶ roads(v1)
  ─T6 pass 2─▶ trims + polygons + movements/kind
  ─K9 join-back─▶ roads(v2, trimmed center lines)

Its "features" entry is convert_features over the same documents.

The reference recomputes intersection geometry eagerly after every
mutation (lib.rs:99-121); we batch per pass — the final per-intersection
state is what snapshot parity checks (SURVEY.md §4).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..config import MapConfig, DEFAULT_CONFIG
from ..sources.osm_xml import parse_documents, split_entities, doc_bounds
from ..operators.extract import (
    filter_ways, node_features, restriction_relations, with_parsed_road_tags,
)
from ..operators.split_ways import build_network_v0
from ..operators.lanes_udf import with_lanes
from ..operators.restrictions import (
    resolve_restrictions, restrictions_by_intersection,
)
from ..operators.geometry_update import (
    with_projected_geometry, build_road_ends, run_t6, apply_trims,
    apply_trim_flags, finalize_intersections,
)
from ..operators.transforms import run_transforms
# unused here: imported because the benchmark's traced run wraps them by
# name on this module
from ..operators.render import render_roads, render_intersections  # noqa: F401
from . import sequential

# the flagship feature table: one row per rendered road/intersection
# polygon with its zoom-16 tile assignment
FEATURES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("feature_type", StringType()),
    StructField("feature_id", LongType()),
    StructField("feature_json", StringType()),
    StructField("tile_z", IntegerType()),
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("quadkey", StringType()),
])


def _count_parquet_rows(path: str) -> int:
    """Row count from parquet footers — metadata only, zero Spark jobs."""
    try:
        import glob
        import pyarrow.parquet as pq
        files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
                 if os.path.isdir(path) else [path])
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return 0


def load_documents(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """Read + spread documents across the cluster. A fixture is one
    small parquet file (1 input split); the pipeline's cost is Python
    geometry CPU per doc, so parallelism must come from an explicit
    doc_id repartition, not input size. (At 100 TB the Iceberg table is
    bucketed by doc_id and this becomes a no-op read-time distribution.)"""
    path = f"{fixture_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    # publish the corpus size for kernel_partitions (parquet footer
    # read, no Spark job): partition counts scale with data, not just
    # cores, so small corpora stop paying empty-task overhead
    n_docs = _count_parquet_rows(path)
    spark.conf.set("spark_graft.docs_hint", str(n_docs))
    cores = spark.sparkContext.defaultParallelism
    if n_docs:
        # data-proportional with a floor at the core count: enough
        # tasks to keep every core busy, but no finer than ~64 docs
        # per task once the corpus is large enough (same sizing rule
        # as kernel_partitions — measured ~6 s faster at sf0.1 than
        # the old flat cores*2)
        from osm2streets_spark.session import DOCS_PER_KERNEL_PARTITION
        n = max(1, min(cores * 2, n_docs,
                       max(cores, -(-n_docs // DOCS_PER_KERNEL_PARTITION))))
    else:
        n = cores * 2
    out = docs.repartition(n, "doc_id")
    # hint travels WITH the frame (read by build_street_network), not
    # only via session conf — see build_street_network docs_hint
    out._spark_graft_docs_hint = n_docs or None
    return out


def parse_stage(docs: DataFrame):
    # persist the TALL parsed frame: nodes, ways AND relations all read
    # from one cached XML pass. Caching only the nodes slice (round 1)
    # silently re-ran the parse for every ways/relations consumer —
    # the second restriction resolve and the way-signal path made that
    # 3+ full parses. (At 100 TB this frame is the bronze Iceberg table.)
    # The parse fans out to EVERY downstream stage (nodes/ways/relations
    # -> graph, bounds, features, restrictions, signals); with a plain
    # persist each consumer's plan embeds the full parse subtree — the
    # intersections plan carried 88 copies of the docs-scan exchange,
    # and walking those trees (driver analysis, AQE, plan printing)
    # dominated fixed overhead. Checkpointing the tall parsed frame
    # itself regressed runtime 17→20 s (measured r5): every consumer
    # scan re-reads FULL parse rows — the checkpoint boundary blocks
    # column pruning and the entity filter. So: persist the tall frame
    # (parse runs once), then checkpoint the three already-pruned entity
    # slices — consumers get a narrow LogicalRDD leaf each, plans stay
    # ~20 nodes, and no scan reads columns it doesn't need.
    # EAGER checkpoints + immediate unpersist of the tall cache: the
    # slices materialize in three jobs (the first runs the parse once,
    # via the cache) and the tall columnar copy is released right away
    # — otherwise tall cache + three slice checkpoints double the
    # block-manager residency and a multi-run loop at the 9,600-doc
    # corpus OOMs the 8 g heap (checkpoint blocks are NOT freed by
    # clearCache, only by ContextCleaner on GC).
    parsed = parse_documents(docs).persist()
    nodes, ways, relations = split_entities(parsed)
    nodes = nodes.localCheckpoint(eager=True)
    ways = ways.localCheckpoint(eager=True)
    relations = relations.localCheckpoint(eager=True)
    parsed.unpersist()
    return nodes, ways, relations


def graph_stage(nodes: DataFrame, ways: DataFrame, cfg: MapConfig = DEFAULT_CONFIG):
    """F2 + K1 + J1 + W1: filtered ways with lanes, split into the v0
    road/intersection graph."""
    fways = filter_ways(ways, cfg.inferred_sidewalks)
    fways = with_parsed_road_tags(fways)
    fways = with_lanes(fways, cfg.driving_side, cfg.inferred_sidewalks)
    roads_v0, ints_v0, flagged = build_network_v0(fways, nodes)
    way_attrs = fways.select(
        "doc_id", "way_id", "tags_json", "highway_type", "name", "layer",
        "speed_kph", "oneway", "internal_junction_road", "lane_specs_json",
        "lane_chars", "dir_chars", "total_width", "driveable", "oneway_dir",
        "placement_shift",
    )
    roads = roads_v0.join(way_attrs, ["doc_id", "way_id"])
    return roads, ints_v0, flagged


def build_street_network(spark: SparkSession, docs: DataFrame,
                         cfg: MapConfig = DEFAULT_CONFIG,
                         docs_hint: int | None = None,
                         debug_steps: bool = False) -> dict:
    """Returns a dict of DataFrames: nodes, ways, relations, roads,
    intersections, trims, features (convert_features over the same
    documents, plus each feature's c_lon/c_lat centroid),
    output_documents (span passthrough) and, with debug_steps,
    debug_steps.

    docs_hint: corpus size for kernel_partitions scaling. Defaults to
    the hint load_documents attached to the docs frame itself
    (`_spark_graft_docs_hint`); the session conf is SET or UNSET here
    at pipeline entry either way, so a docs frame that didn't come
    through load_documents (PBF reads, a second larger corpus in the
    same session) can't inherit a stale small hint and silently cap
    the kernel shuffles at `cores` partitions (round-5 ADVICE:
    invisible cross-module coupling via mutable session state)."""
    if docs_hint is None:
        docs_hint = getattr(docs, "_spark_graft_docs_hint", None)
    if docs_hint is None:
        # The attribute is best-effort (any .where/.select between
        # load_documents and here returns a NEW DataFrame and drops
        # it — round-6 ADVICE). Recover the hint from the underlying
        # parquet scan's footers: inputFiles() is a driver-side
        # metadata walk (no Spark job) that survives intervening
        # transformations. A filtered frame overestimates — fine for
        # a partition-sizing hint. Non-parquet sources (PBF parses)
        # yield nothing and keep the unset-conf behavior.
        try:
            docs_hint = sum(
                _count_parquet_rows(f.removeprefix("file:"))
                for f in docs.inputFiles() if f.endswith(".parquet")
            ) or None
        except Exception:
            docs_hint = None
    if docs_hint:
        spark.conf.set("spark_graft.docs_hint", str(int(docs_hint)))
    else:
        spark.conf.unset("spark_graft.docs_hint")
    nodes, ways, relations = parse_stage(docs)
    # nodes re-cached as a COLUMNAR layer on top of its checkpoint:
    # the checkpoint truncates consumer plans, but its blocks are
    # row-format; bounds/way-points/features/vias all scan nodes, and
    # the in-memory columnar cache scans vectorized (measured: dropping
    # this persist costs ~5 s at sf0.1)
    nodes = nodes.persist()
    roads, ints_v0, flagged = graph_stage(nodes, ways, cfg)
    # ints_v0 feeds the final intersections, the T1-merge node roster
    # and (in registry queries) degree/tile projections — cache the J1
    # aggregation instead of re-running it per consumer
    ints_v0 = ints_v0.persist()

    anchors = doc_bounds(nodes)
    roads = with_projected_geometry(roads, anchors)
    # osm_way_ids reports the ORIGINAL OSM id: a way the boundary clip
    # sliced into k>1 pieces runs through the engine under synthetic
    # negative ids -(way*100+piece) for uniqueness, but the reference
    # keeps the original id on every clipped copy (clip.rs:52-58,
    # lib.rs:125-127) and its goldens expose it in the features
    roads = roads.withColumn(
        "osm_way_ids",
        F.array(F.when(F.col("way_id") < 0,
                       ((-F.col("way_id") - 1) / 100).cast("long"))
                 .otherwise(F.col("way_id")))) \
                 .withColumn("too_short", F.lit(False))
    # roads feeds T6 pass 1 (×2 ends), restrictions resolution and the
    # transforms — persist to stop the split/lane chain recomputing per
    # consumer (this was the dominant cost before caching).
    roads = roads.persist()

    feats = node_features(nodes)
    restr = restriction_relations(relations)
    # tiny frame, but its subtree (relation pivot + via join) otherwise
    # re-executes as the build side of the has_restriction broadcast
    resolved = resolve_restrictions(restr, nodes, roads).persist()

    # Traffic signals tagged on incoming ways, not at the junction node
    # (split_ways.rs:216-241): a signal node interior to a road, with an
    # explicit direction or on a driving-oneway, marks the road's
    # downstream intersection Signalled.
    from ..operators.split_ways import interior_point_road_map
    interior = interior_point_road_map(flagged, roads)
    sig_pts = feats.where(F.col("feature") == "traffic_signals").select(
        "doc_id", "signal_dir",
        F.round(F.col("lon") * 1e7).cast("long").alias("qx"),
        F.round(F.col("lat") * 1e7).cast("long").alias("qy"),
    )
    # signals are a sparse feature class (~0.1% of nodes): broadcast the
    # signal side so the interior-point explode and the roads table are
    # never shuffled for this join. (At 100 TB both sides are bucketed
    # by doc_id and this becomes a co-partitioned local join.)
    sig_hits = interior.join(sig_pts, ["doc_id", "qx", "qy"])
    sig_on_road = roads.select(
        "doc_id", "road_id", "src_i", "dst_i", "oneway_dir",
    ).join(sig_hits, ["doc_id", "road_id"])
    sig_dir = F.when(F.col("signal_dir").isin("forward", "backward"),
                     F.col("signal_dir")) \
               .when(F.col("oneway_dir") != "", F.col("oneway_dir"))
    way_signal_is = sig_on_road.select(
        "doc_id", sig_dir.alias("_d"), "src_i", "dst_i",
    ).where(F.col("_d").isNotNull()).select(
        "doc_id",
        F.when(F.col("_d") == "forward", F.col("dst_i"))
         .otherwise(F.col("src_i")).alias("i_id"),
    ).distinct()

    # per-end metadata for the T6 terminus rule and the transform kernel
    # guards (terminus.rs:16-29 MapEdge extension,
    # collapse_short_road.rs:24-28 MapEdge, collapse_intersections.rs
    # :12-14 crossing, :41-47 restrictions)
    # MapEdge flags need NO join at all: a clipped synthetic endpoint
    # carries a negative node id (osm_xml.py boundary clip), so the
    # road's own pt_node_ids column answers it. (Same blind spot as the
    # reference for a real node exactly on the boundary,
    # split_ways.rs:45-46 TODO.)
    roads = roads.withColumn("_src_node", F.element_at("pt_node_ids", 1)) \
                 .withColumn("_dst_node", F.element_at("pt_node_ids", -1)) \
                 .withColumn("src_is_edge", F.col("_src_node") < 0) \
                 .withColumn("dst_is_edge", F.col("_dst_node") < 0)
    # crossing-at-junction flags: the endpoint node id IS the junction
    # node — a broadcast of the sparse crossing-node set makes both
    # lookups map-side (no exchange on roads)
    crossing_flag = feats.where(F.col("feature") == "crossing").select(
        "doc_id", F.col("node_id").alias("_cn"), F.lit(True).alias("_x"))
    for side, ncol in (("src", "_src_node"), ("dst", "_dst_node")):
        roads = roads.join(
            crossing_flag
                        .withColumnRenamed("_cn", ncol)
                        .withColumnRenamed("_x", f"{side}_has_crossing"),
            ["doc_id", ncol], "left")
    # localCheckpoint (lazy) = persist + LINEAGE TRUNCATION. The plan
    # tree above this point is ~15 operators deep; Spark re-analyzes
    # the whole tree on every downstream transformation, which made
    # DAG CONSTRUCTION (driver Python, fully serial) the single
    # largest cost of a run. At 100 TB this boundary is a silver
    # Iceberg table; locally the checkpoint plays that role.
    roads = roads.drop("_src_node", "_dst_node").localCheckpoint(eager=False)

    # pass 1: trims only, to find trim-annihilated roads
    # (update_geometry.rs:58-63 → CollapseShortRoads candidates)
    # and to feed the trim_roads_for_merging memo. The degree
    # split (closed-form deg ≤ 2 trims, kernel only for deg ≥ 3)
    # happens INSIDE t6_process so one exchange serves the whole
    # pass and the sequential replay shares it bit-for-bit.
    ends1 = build_road_ends(roads, None, cfg.driving_side)
    trims1 = run_t6(ends1, trims_only=True)
    roads = apply_trim_flags(roads, trims1)
    restricted_roads = resolved.select(
        "doc_id", F.explode(F.array("from_road", "to_road"))
        .alias("road_id")).distinct() \
        .withColumn("has_restriction", F.lit(True))
    roads = roads.join(restricted_roads,
                       ["doc_id", "road_id"], "left")
    # lane-relevant raw-tag fingerprint for the T2 equality check —
    # the reference compares LaneSpecs that EMBED the muv Lane
    # (osm2lanes lib.rs:289), so surface/smoothness/oneway/width
    # differences block splicing even when our lane model can't see
    # them. The `service` VALUE is deliberately NOT in the
    # fingerprint: muv's Lane does not embed it, and the
    # seattle_slip_lane golden splices service=parking_aisle with
    # service=driveway chains at their shared junctions.
    # NOTE `lanes` is NOT a fingerprint key: the raw count tag is
    # not embedded in the muv Lane — only the DERIVED specs are,
    # and spec equality is checked separately (st_georges golden:
    # Lambeth Road 20139792 [untagged 2-way default] merges with
    # 376571542 [explicit lanes=2] — identical lane specs).
    lane_keys = ("surface", "smoothness", "oneway",
                 "width", "est_width", "maxspeed",
                 "tracktype")
    from functools import reduce
    # maxheight enters the fingerprint only when METRIC — muv's
    # distance parser drops values it can't read, so an imperial
    # maxheight (seattle 14'0") does NOT distinguish lanes while a
    # metric one (bristol 2.6 building passage) does
    roads = roads.withColumn(
        "lane_fingerprint",
        F.to_json(F.map_filter(
            F.from_json("tags_json", "map<string,string>"),
            lambda k, v: reduce(lambda x, y: x | y,
                                (k.startswith(p) for p in lane_keys))
            | ((k == "maxheight")
               & v.rlike(r"^\d+(\.\d+)?\s*m?$")),
        )))

    if debug_steps:
        # stepwise debugging (transform/mod.rs:94-109) re-runs the
        # transform kernels recording per-pass network sizes — an
        # opt-in, more expensive path, exactly like the reference's
        from ..operators.transforms import run_transform_steps
        debug_steps_df = run_transform_steps(
            roads, cfg.zip_sidepaths, cfg.remove_disconnected,
            cfg.transform_split_threshold, cfg.transform_split_zoom)
    tout = run_transforms(roads, cfg.zip_sidepaths,
                          cfg.remove_disconnected,
                          cfg.transform_split_threshold,
                          cfg.transform_split_zoom) \
        .localCheckpoint(eager=False)
    roads = tout.where(F.col("row_kind") == "road").drop("row_kind")
    imerges = tout.where(F.col("row_kind") == "imerge").select(
        "doc_id", F.col("src_i").alias("surviving_i"),
        F.col("dst_i").alias("absorbed_i"))

    # re-resolve turn restrictions AFTER the transforms: T2 splices
    # roads (from/to ids change), T1 merges intersections (via ids
    # change) — resolving against the pre-transform graph silently
    # drops them (round-1 VERDICT "What's wrong" #4)
    resolved = resolve_restrictions(restr, nodes, roads,
                                    imerges=imerges)
    restr_by_i = restrictions_by_intersection(resolved)
    ends = build_road_ends(roads, restr_by_i, cfg.driving_side)
    # pass-2 trims feed both the road rebuild and the intersections
    # table; roads_final feeds the render and the live-intersection
    # semi-join — persist both to keep every UDF stage single-execution
    # plain persist here: inputs are already LogicalRDD scans (the
    # checkpoints above), so downstream analysis stays shallow and two
    # more checkpoint barriers would only serialize the tail
    # lazy localCheckpoint rather than plain persist: these two feed
    # FOUR consumers each (rebuild/render/live-is/finalize), and with
    # persist every downstream transformation re-ANALYZES their full
    # subtree — the features plan carried ~254 Exchange nodes of
    # repeated persisted subtrees and DAG construction dominated wall
    # time. A checkpoint truncates the lineage to a LogicalRDD at call
    # time (toRdd paid once here, on an already-shallow tree), so the
    # render fan-out analyzes ~20-node trees instead.
    trims = run_t6(ends).localCheckpoint(eager=False)
    roads_final = apply_trims(roads, trims).localCheckpoint(eager=False)

    # intersections surviving the transforms = endpoints of final roads
    live_is = roads_final.select(
        "doc_id", F.explode(F.array("src_i", "dst_i")).alias("i_id")
    ).distinct()
    ints = ints_v0.join(live_is, ["doc_id", "i_id"], "left_semi")
    ints = ints.join(
        anchors.select("doc_id", F.col("min_lon").alias("lon0"),
                       F.col("min_lat").alias("lat0")),
        "doc_id",
    )
    # a way-signal's target junction may have been absorbed by T1
    way_signal_is = way_signal_is.join(
        imerges.withColumnRenamed("absorbed_i", "i_id"),
        ["doc_id", "i_id"], "left",
    ).withColumn("i_id", F.coalesce("surviving_i", "i_id")) \
     .drop("surviving_i").distinct()
    ints_final = finalize_intersections(ints, trims, feats,
                                        imerges=imerges, ints_v0=ints_v0,
                                        signalled_is=way_signal_is)

    # span passthrough (north_rule per-row invariant): the output document
    # table carries the input span sequence untouched
    out_docs = docs.select("doc_id", "spans")

    out = {
        "nodes": nodes, "ways": ways, "relations": relations,
        "roads": roads_final, "intersections": ints_final,
        "features": _with_centroid(convert_features(docs, cfg)),
        "output_documents": out_docs,
        "trims": trims,
    }
    if debug_steps:
        out["debug_steps"] = debug_steps_df
    return out


def convert_features(docs: DataFrame,
                     cfg: MapConfig = DEFAULT_CONFIG) -> DataFrame:
    """documents(doc_id, spans) → FEATURES_SCHEMA rows, one per rendered
    road/intersection polygon: the per-document kernel
    (sequential.convert_document + feature_rows) in ONE mapInPandas
    pass. Adds no shuffle, persist or checkpoint: the caller's
    partitioning (load_documents' doc_id repartition) is the task list.
    The kernel is looked up on its module at call time, inside the
    worker, so nothing but the config is pickled into the task."""
    def convert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                roads, ints, *_ = sequential.convert_document(
                    doc_id, spans, cfg)
                rows.extend(sequential.feature_rows(doc_id, roads, ints,
                                                    cfg.cell_zoom))
            if rows:
                yield pd.DataFrame(rows, columns=FEATURES_SCHEMA.names)

    return docs.select("doc_id", "spans").mapInPandas(
        convert, schema=FEATURES_SCHEMA)


def _with_centroid(features: DataFrame) -> DataFrame:
    """features + c_lon/c_lat: the mean of the polygon ring's vertices,
    as feature_rows computes it for the tile assignment, read back from
    feature_json (so to its 9-decimal rounding) for cell assignment at
    other zooms (tiles.adaptive_cells)."""
    ring = F.from_json(
        "feature_json",
        "struct<geometry:struct<coordinates:array<array<array<double>>>>>",
    )["geometry"]["coordinates"][0]
    for name, k in (("c_lon", 0), ("c_lat", 1)):
        features = features.withColumn(name, F.aggregate(
            ring, F.lit(0.0), lambda acc, p: acc + p[k]) / F.size(ring))
    return features


def flagship_query(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """The headline query: the rendered feature table (one row per
    road/intersection polygon with its tile assignment), as one
    per-document kernel pass over the doc_id-repartitioned documents —
    a single shuffle and a single Python stage."""
    return convert_features(load_documents(spark, fixture_dir))
