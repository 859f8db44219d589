"""Degenerate OSM documents: a malformed element drops, the way the
reference reader drops refs to missing nodes (reader.rs:93-99), and
never aborts the run.

Six documents each carry one malformed element on top of a well-formed
fixture document; a seventh has no spans at all. They share a task with a
well-formed document, whose rows must not change."""

from __future__ import annotations

import json

import pyarrow.parquet as pq

from osm2streets_spark.plans.pipeline import convert_features
from osm2streets_spark.sources.osm_xml import _parse_one_doc

BASE_DOC, GOOD_DOC = "t_junction:1", "four_way_signal:2"
BAD_MEMBERS = ('<member type="way" ref="abc" role="from"/>'
               '<member type="node" ref="1" role="via"/>')
# one malformed element each, appended to BASE_DOC's OSM XML
MALFORMED_XML = {
    "node_without_id": '<node lat="30.0" lon="-120.0"/>',
    "non_numeric_lon": '<node id="900001" lat="30.0" lon="east"/>',
    "nan_coordinates": '<node id="900002" lat="nan" lon="nan"/>',
    # a latitude beyond the pole made the tile projection raise
    "latitude_beyond_pole": '<node id="900004" lat="95.0" lon="-120.0"/>',
    "non_integer_member_ref": (
        f'<relation id="900003">{BAD_MEMBERS}'
        '<tag k="type" v="restriction"/></relation>'),
}


def _fixture_spans(fixture_dir: str) -> dict:
    docs = pq.read_table(f"{fixture_dir}/documents.parquet").to_pylist()
    return {d["doc_id"]: d["spans"] for d in docs}


def _degenerate_docs(base_spans: list) -> dict:
    """{doc_id: spans} of the malformed documents and the empty one."""
    last_xml = max(i for i, s in enumerate(base_spans)
                   if s["kind"] == "osm_xml")
    docs = {}
    for name, xml in MALFORMED_XML.items():
        spans = [dict(s) for s in base_spans]
        spans[last_xml]["text"] += xml
        docs[name] = spans
    docs["bad_pbf_payload"] = [dict(s) for s in base_spans] + [
        {"kind": "osm_pbf", "text": "!!not base64!!", "media_ref": None,
         "offset": len(base_spans)}]
    docs["empty_spans"] = []
    return docs


def _parse(doc_id: str, spans) -> list:
    rows: list = []
    _parse_one_doc(doc_id, spans, rows)
    return rows


def test_malformed_element_dropped(fixture_dir):
    """Each malformed element contributes nothing; the rest of the
    document parses exactly as without it."""
    base_spans = _fixture_spans(fixture_dir)[BASE_DOC]
    base = _parse("d", base_spans)
    for name, spans in _degenerate_docs(base_spans).items():
        rows = _parse("d", spans)
        if name == "empty_spans":
            assert rows == []
        elif name == "non_integer_member_ref":
            (rel,) = [r for r in rows if r[2] == 900003]
            assert json.loads(rel[6]) == [
                {"role": "via", "type": "node", "ref": 1}]
            assert [r for r in rows if r[2] != 900003] == base
        else:
            assert rows == base, name


def _features(spark, docs: dict) -> list:
    """convert_features over docs in ONE partition (so they share a
    task), as sorted row tuples."""
    df = spark.createDataFrame(
        list(docs.items()),
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>").coalesce(1)
    return sorted(tuple(r) for r in convert_features(df).collect())


def test_degenerate_docs_do_not_abort(spark, fixture_dir):
    spans = _fixture_spans(fixture_dir)
    degenerate = _degenerate_docs(spans[BASE_DOC])
    alone = _features(spark, {GOOD_DOC: spans[GOOD_DOC]})
    mixed = _features(spark, {**degenerate, GOOD_DOC: spans[GOOD_DOC]})
    assert alone
    assert [r for r in mixed if r[0] == GOOD_DOC] == alone
    # the degenerate documents still convert the well-formed rest
    assert {r[0] for r in mixed} == {GOOD_DOC} | (
        set(degenerate) - {"empty_spans"})
