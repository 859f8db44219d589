"""E1/E2: edit API with delta recompute.

Reference osm2streets-py/src/lib.rs:353-386 (overwrite_osm_tags_for_way
→ re-infer lanes, recompute touched geometry) and :388-427 (point calls
to collapse/zip ops). In the corpus engine an edit touches exactly one
document, so the delta recompute is: rewrite that doc's spans → rerun
the (stateless) per-document kernel on the 1-doc frame → splice the
results over the previous snapshot (anti-join out the doc, union the
fresh rows — Iceberg MERGE INTO in production, parquet rewrite here).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import MapConfig, DEFAULT_CONFIG
from .pipeline import convert_features


def overwrite_way_tags(docs: DataFrame, doc_id: str, way_id: int,
                       new_tags: dict) -> DataFrame:
    """Return the documents frame with the given way's tags replaced
    inside the doc's osm_xml spans (XML rewritten in one mapInPandas
    over the single targeted doc; all other docs pass through)."""
    import json as _json

    target = docs.where(F.col("doc_id") == doc_id)
    rest = docs.where(F.col("doc_id") != doc_id)
    tags_json = _json.dumps(dict(sorted(new_tags.items())),
                            separators=(",", ":"))

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        import xml.etree.ElementTree as ET

        tags = _json.loads(tags_json)
        for pdf in batches:
            out_rows = []
            for did, spans in zip(pdf["doc_id"], pdf["spans"]):
                new_spans = []
                for s in spans:
                    if s["kind"] != "osm_xml":
                        new_spans.append(dict(s))
                        continue
                    root = ET.fromstring("<osm>" + s["text"] + "</osm>")
                    for el in root:
                        if el.tag == "way" and int(el.get("id")) == way_id:
                            for t in [t for t in el if t.tag == "tag"]:
                                el.remove(t)
                            for k, v in sorted(tags.items()):
                                ET.SubElement(el, "tag", {"k": k, "v": v})
                    inner = "".join(
                        ET.tostring(el, encoding="unicode") for el in root)
                    inner = re.sub(r"\s+/>", "/>", inner).replace(" />", "/>")
                    new_spans.append(dict(s, text=inner))
                out_rows.append({"doc_id": did, "spans": new_spans})
            yield pd.DataFrame(out_rows)

    edited = target.mapInPandas(rewrite, schema=docs.schema)
    return rest.unionByName(edited)


def recompute_doc_features(spark: SparkSession, docs: DataFrame,
                           doc_id: str,
                           cfg: MapConfig = DEFAULT_CONFIG) -> DataFrame:
    """Delta recompute: run the per-document kernel on ONE document."""
    return convert_features(docs.where(F.col("doc_id") == doc_id), cfg)


def splice_features(prev_features: DataFrame,
                    fresh_doc_features: DataFrame,
                    doc_id: str) -> DataFrame:
    """Replace one doc's rows in the snapshot (anti-join + union — the
    parquet analogue of Iceberg MERGE INTO ... WHEN MATCHED DELETE)."""
    kept = prev_features.where(F.col("doc_id") != doc_id)
    return kept.unionByName(fresh_doc_features)
