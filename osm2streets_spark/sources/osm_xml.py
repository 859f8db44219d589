"""S1: OSM XML scan over interleaved documents.

Reference: streets_reader/src/osm_reader/reader.rs:23-148 streams an OSM
XML byte buffer into Document{nodes, ways, relations}. Here the input is
the documents table (doc_id, spans) — the ``kind='osm_xml'`` spans of a
document, concatenated in offset order, form the document's OSM extract.

Spark-first shape: one ``mapInPandas`` pass over documents emits three
entity kinds into a single tall DataFrame (cheap — one Python crossing,
Arrow-batched), which is then split by entity with column pruning. The
alternative (three separate UDF passes) would parse each XML three times.

Missing-node-ref handling matches reader.rs:93-99: a way keeps only nd
refs that resolved to a parsed node; ways left with <2 points are
dropped at split time. Malformed elements drop the same way, so one bad
document never aborts the task that parses it: a node, way or relation
whose id is not an integer, a node whose lon/lat is not a number within
±180/±90 (NaN included), an nd or relation member whose ref is not an
integer, and a PBF payload that is not base64 (like unparseable XML)
contribute nothing.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

# tall union schema: one row per node/way/relation
PARSED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("entity", StringType()),        # 'node' | 'way' | 'relation'
    StructField("osm_id", LongType()),
    StructField("lon", DoubleType()),            # nodes only
    StructField("lat", DoubleType()),
    StructField("node_ids", ArrayType(LongType())),  # ways only
    StructField("members_json", StringType()),   # relations only
    StructField("tags_json", StringType()),      # sorted-key JSON
])


def _int(value: str | None) -> int | None:
    """An OSM id/ref attribute as int; None when absent or malformed."""
    try:
        return int(value)
    except (TypeError, ValueError):
        return None


def _coord(value: str | None, limit: float) -> float | None:
    """A lon (limit 180) or lat (limit 90) attribute as a float within
    ±limit; None when absent, not a number, NaN or out of range (a
    latitude beyond ±90 makes the tile projection raise)."""
    try:
        v = float(value)
    except (TypeError, ValueError):
        return None
    return v if -limit <= v <= limit else None


def _parse_one_doc(doc_id: str, spans, rows: list) -> None:
    import xml.etree.ElementTree as ET

    import numpy as np

    frags = sorted(
        (s for s in spans if s["kind"] == "osm_xml"),
        key=lambda s: s["offset"],
    )
    pbf_frags = sorted(
        (s for s in spans if s["kind"] == "osm_pbf"),
        key=lambda s: s["offset"],
    )
    boundary = next((s for s in spans if s["kind"] == "boundary"), None)
    nodes: dict[int, tuple] = {}
    ways: list[tuple] = []
    if pbf_frags:
        # S1 PBF half (reader.rs:23-148 dispatches XML vs PBF): the
        # base64 span payloads concatenate to the .osm.pbf bytes
        import base64
        import binascii

        from .osm_pbf import parse_pbf

        # concatenate the base64 texts BEFORE decoding: per-span decode
        # is only valid when each span's length is a multiple of 4, an
        # accident of the fixture CHUNK size we must not depend on
        try:
            data = base64.b64decode("".join(s["text"] for s in pbf_frags))
        except binascii.Error:
            data = b""  # a payload that is not base64 contributes nothing
        nodes, pways, prels = parse_pbf(data)
        for wid, refs, tags_json in pways:
            refs = [r for r in refs if r in nodes]  # reader.rs:93-99
            ways.append((wid, refs, tags_json))
        for rid, members, tags_json in prels:
            rows.append((doc_id, "relation", rid, None, None, None,
                         json.dumps(members, separators=(",", ":")),
                         tags_json))
    xml = "<osm>" + "".join(s["text"] for s in frags) + "</osm>"
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        root = []  # malformed XML spans contribute nothing
    for el in root:
        osm_id = _int(el.get("id"))
        if osm_id is None:
            continue
        tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
        tags_json = json.dumps(dict(sorted(tags.items())),
                               separators=(",", ":"))
        if el.tag == "node":
            lon = _coord(el.get("lon"), 180.0)
            lat = _coord(el.get("lat"), 90.0)
            if lon is not None and lat is not None:
                nodes[osm_id] = (lon, lat, tags_json)
        elif el.tag == "way":
            refs = [_int(nd.get("ref")) for nd in el if nd.tag == "nd"]
            refs = [r for r in refs if r in nodes]  # reader.rs:93-99
            ways.append((osm_id, refs, tags_json))
        elif el.tag == "relation":
            members = [
                {"role": m.get("role"), "type": m.get("type"), "ref": ref}
                for m in el if m.tag == "member"
                for ref in [_int(m.get("ref"))] if ref is not None
            ]
            rows.append((doc_id, "relation", osm_id,
                         None, None, None,
                         json.dumps(members, separators=(",", ":")),
                         tags_json))

    if boundary is not None:
        # S3 boundary clip (clip.rs:13-78): drop outside nodes, slice
        # crossing ways; boundary-crossing endpoints become synthetic
        # nodes with NEGATIVE ids → MapEdge intersections downstream
        # (split_ways.rs:39-52). Shared implementation with the fixture
        # generator (geom/clip.py apply_boundary_clip).
        from ..geom.clip import apply_boundary_clip

        ring = np.asarray(json.loads(boundary["text"]), dtype=float)
        nodes, ways = apply_boundary_clip(nodes, ways, ring)

    for nid, (lon, lat, tags_json) in nodes.items():
        rows.append((doc_id, "node", nid, lon, lat, None, None, tags_json))
    for way_id, refs, tags_json in ways:
        rows.append((doc_id, "way", way_id, None, None, refs, None,
                     tags_json))


def _parse_doc_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            _parse_one_doc(doc_id, spans, rows)
        yield pd.DataFrame(
            rows, columns=[f.name for f in PARSED_SCHEMA.fields]
        )


def parse_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → tall parsed-entity DataFrame."""
    return docs.select("doc_id", "spans").mapInPandas(
        _parse_doc_batch, schema=PARSED_SCHEMA
    )


def split_entities(parsed: DataFrame):
    """Tall frame → (nodes, ways, relations) with pruned columns."""
    nodes = (
        parsed.where(F.col("entity") == "node")
        .select("doc_id", F.col("osm_id").alias("node_id"), "lon", "lat",
                "tags_json")
    )
    ways = (
        parsed.where(F.col("entity") == "way")
        .select("doc_id", F.col("osm_id").alias("way_id"), "node_ids",
                "tags_json")
    )
    member_type = "array<struct<role:string,type:string,ref:bigint>>"
    relations = (
        parsed.where(F.col("entity") == "relation")
        .select("doc_id", F.col("osm_id").alias("rel_id"),
                F.from_json("members_json", member_type).alias("members"),
                "tags_json")
    )
    return nodes, ways, relations


def doc_bounds(nodes: DataFrame) -> DataFrame:
    """S2 bounds scrape (reader.rs:151-160): per-doc bbox + projection
    anchor. groupBy doc — a pure hash aggregation, partial map-side."""
    return nodes.groupBy("doc_id").agg(
        F.min("lon").alias("min_lon"), F.max("lon").alias("max_lon"),
        F.min("lat").alias("min_lat"), F.max("lat").alias("max_lat"),
    )
