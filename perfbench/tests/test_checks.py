import os

import pandas as pd

from perfbench import checks, inputs


def test_engine_checksum_equals_replay_checksum(spark, tmp_path):
    from osm2streets_spark.plans import pipeline
    from osm2streets_spark.plans import sequential as seq

    docs = inputs.street_docs(21, seed=7)
    corpus = inputs.write_documents(str(tmp_path / "docs"), docs)
    df = pipeline.flagship_query(spark, corpus)
    engine = checks.checksum_sink(df)
    replay = checks.rows_checksum(
        spark, pd.DataFrame(checks.replay_rows(docs, seq.convert_document,
                                               seq.feature_rows)), df.schema)
    assert engine[0] > 0
    assert engine == replay


def test_checksum_is_order_free_and_sees_every_column(spark):
    rows = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    shuffled = rows.iloc[[2, 0, 1]]
    edited = rows.assign(b=["x", "y", "Z"])
    df = spark.createDataFrame(rows)
    assert checks.rows_checksum(spark, shuffled, df.schema) == \
        checks.checksum_sink(df)
    assert checks.rows_checksum(spark, edited, df.schema) != \
        checks.checksum_sink(df)


def test_checksum_tolerates_float_noise_below_six_places(spark):
    """An oracle that sums in another order differs in the last bits; the
    sink rounds fractional columns so the two still agree."""
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2],
                                             "v": [0.1 + 0.2, 2.5]}))
    assert checks.rows_checksum(
        spark, pd.DataFrame({"k": [2, 1], "v": [2.5, 0.3]}), df.schema) == \
        checks.checksum_sink(df)
    assert checks.rows_checksum(
        spark, pd.DataFrame({"k": [2, 1], "v": [2.5, 0.30001]}),
        df.schema) != checks.checksum_sink(df)


def test_row_digest_is_order_free():
    rows = [{c: f"{c}{i}" for c in checks.FEATURE_COLUMNS} for i in range(5)]
    assert checks.row_digest(rows) == checks.row_digest(rows[::-1])
    assert checks.row_digest(rows) != checks.row_digest(rows[:4])


def test_text_tables_are_seeded(tmp_path):
    a = inputs.write_text_tables(str(tmp_path / "a"), 3, 200, 50, 1000)
    b = inputs.write_text_tables(str(tmp_path / "b"), 3, 200, 50, 1000)
    c = inputs.write_text_tables(str(tmp_path / "c"), 4, 200, 50, 1000)
    for t in ("documents", "embeddings", "events"):
        fa, fb, fc = (pd.read_parquet(os.path.join(d, f"{t}.parquet"))
                      for d in (a, b, c))
        assert fa.equals(fb)
        assert not fa.equals(fc)


def test_recall_check_accepts_a_subset_above_the_floor():
    oracle = list(range(100))
    assert checks.recall_check(oracle[:97], oracle, 0.95) == (0.97, None)
    recall, problem = checks.recall_check(oracle[:90], oracle, 0.95)
    assert recall == 0.9 and "recall 90/100" in problem
    # a row the oracle does not have fails at any recall
    assert checks.recall_check(oracle[:99] + [1000], oracle, 0.95)[1] == \
        "1 rows not in the oracle"
    # duplicates count: a row the oracle has once may not appear twice
    assert checks.recall_check([1, 1], [1, 2], 0.5)[1] is not None


def test_row_hashes_sink_matches_rows_loaded_with_the_schema(spark):
    rows = pd.DataFrame({"a": [3, 1, 2], "v": [0.1 + 0.2, 1.0, 2.0]})
    df = spark.createDataFrame(rows)
    assert checks.rows_checksum(
        spark, pd.DataFrame({"a": [1, 2, 3], "v": [1.0, 2.0, 0.3]}),
        df.schema, checks.row_hashes_sink) == checks.row_hashes_sink(df)
