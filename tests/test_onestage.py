"""The one-stage feature pass (convert_features): the flagship table is
the per-document kernel run inside one mapInPandas, so it must carry the
pinned schema and exactly the rows the kernel renders on the driver,
whatever the Arrow batch size."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from osm2streets_spark.plans import sequential
from osm2streets_spark.plans.pipeline import (
    FEATURES_SCHEMA, convert_features, flagship_query, load_documents,
)

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def driver_rows(fixture_dir) -> list[tuple]:
    """feature_rows(convert_document(...)) over every fixture document,
    collected on the driver with no Spark in the loop."""
    docs = pq.read_table(f"{fixture_dir}/documents.parquet").to_pylist()
    rows = []
    for d in docs:
        roads, ints, *_ = sequential.convert_document(d["doc_id"], d["spans"])
        rows += [tuple(r[c] for c in FEATURES_SCHEMA.names)
                 for r in sequential.feature_rows(d["doc_id"], roads, ints)]
    return sorted(rows)


def test_schema_is_pinned(spark, fixture_dir):
    assert convert_features(load_documents(spark, fixture_dir)).schema \
        == FEATURES_SCHEMA
    assert flagship_query(spark, fixture_dir).schema == FEATURES_SCHEMA


def test_rows_equal_driver_replay(spark, fixture_dir, driver_rows):
    assert driver_rows
    assert _rows(flagship_query(spark, fixture_dir)) == driver_rows


@pytest.mark.parametrize("batch", ["64", "1"])
def test_arrow_batch_size_invariant(spark, fixture_dir, driver_rows, batch):
    """64 is the size the distributed plan's batch test forces; 1 puts a
    batch boundary between every pair of documents in a task."""
    old = spark.conf.get(ARROW_BATCH)
    try:
        spark.conf.set(ARROW_BATCH, batch)
        got = _rows(flagship_query(spark, fixture_dir))
    finally:
        spark.conf.set(ARROW_BATCH, old)
    assert got == driver_rows

