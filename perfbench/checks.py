"""Output checks and the sinks that read every output column.

The timed action is `checksum_sink`: a row count plus the sum of
`xxhash64` over all columns, cast to decimal because a long sum overflows
under ANSI mode. It is order-independent, so a result computed another way
(the sequential replay, a DuckDB oracle) is loaded into Spark with the
engine's output schema and reduced to the same pair. Where the program
may drop rows by design (MinHash LSH misses a few pairs near its
threshold), `row_hashes_sink` hashes each row instead, and `recall_check`
compares the rows with the oracle's.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, FloatType

FRACTIONAL = (DoubleType, FloatType)


def _hash_cols(df: DataFrame) -> list:
    """Every column, fractional ones rounded to 6 places, so an oracle that
    computes the same value in another order still hashes the same."""
    return [F.round(f.name, 6) if isinstance(f.dataType, FRACTIONAL)
            else F.col(f.name) for f in df.schema.fields]


def checksum_sink(df: DataFrame) -> tuple[int, int]:
    """(rows, checksum)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*_hash_cols(df)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def row_hashes_sink(df: DataFrame) -> list[int]:
    """xxhash64 of every row, sorted: for small outputs that are checked
    row by row rather than as a whole."""
    return sorted(r[0] for r in
                  df.select(F.xxhash64(*_hash_cols(df))).collect())


def rows_checksum(spark: SparkSession, rows: pd.DataFrame, schema,
                  sink=checksum_sink):
    """sink (checksum_sink by default) of rows computed outside the engine,
    cast to the engine's output schema."""
    return sink(spark.createDataFrame(rows[schema.fieldNames()],
                                      schema=schema))


def recall_check(got: list[int], oracle: list[int],
                 floor: float) -> tuple[float, str | None]:
    """(recall, problem or None) of row hashes against an oracle's: every
    row must be one of the oracle's, and at least `floor` of the oracle's
    rows must be there."""
    extra = Counter(got) - Counter(oracle)
    if extra:
        return 0.0, f"{sum(extra.values())} rows not in the oracle"
    recall = len(got) / len(oracle) if oracle else 1.0
    if recall < floor:
        return recall, (f"recall {len(got)}/{len(oracle)} = {recall:.3f} "
                        f"< {floor}")
    return recall, None


def replay_rows(docs: list[tuple], convert, render) -> list[dict]:
    """Feature rows of the sequential replay: convert(doc_id, spans) then
    render(doc_id, roads, ints) per document."""
    out: list[dict] = []
    for doc_id, spans in docs:
        roads, ints, *_ = convert(doc_id, spans)
        out.extend(render(doc_id, roads, ints))
    return out


def source_digest(package_dir: str) -> str:
    """Hash of the program's Python sources; keys cached references so a
    changed program never reuses a stale one."""
    h = hashlib.sha1()
    for base, dirs, files in sorted(os.walk(package_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def cached(path: str, compute) -> dict:
    """JSON value stored at path, computed and written on first use."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


# --- DuckDB oracles for the text leaves ------------------------------------

def duckdb_views(table_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{table_dir}/{t}.parquet')")
    return con


# --- kernel replay digest --------------------------------------------------

FEATURE_COLUMNS = ("doc_id", "feature_type", "feature_id", "feature_json",
                   "tile_z", "tile_x", "tile_y", "quadkey")


def row_digest(rows: list[dict]) -> tuple[int, int]:
    """(rows, order-free 64-bit digest) of feature rows."""
    total = 0
    for r in rows:
        key = repr(tuple(r[c] for c in FEATURE_COLUMNS)).encode()
        total += int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "little")
    return len(rows), total % (1 << 64)


def feature_problem(r: dict) -> str | None:
    """A structural defect of one rendered feature row, or None."""
    try:
        feat = json.loads(r["feature_json"])
        ring = feat["geometry"]["coordinates"][0]
    except (ValueError, KeyError, IndexError, TypeError) as exc:
        return f"{r['doc_id']}/{r['feature_id']}: bad feature_json ({exc})"
    if len(ring) < 4:
        return f"{r['doc_id']}/{r['feature_id']}: ring of {len(ring)} points"
    if feat["properties"]["type"] != r["feature_type"]:
        return f"{r['doc_id']}/{r['feature_id']}: type mismatch"
    return None


def ring_open(r: dict) -> bool:
    """True when the feature's polygon ring does not end where it starts.
    The kernel leaves a few intersection rings open (about 2 in 500 mixed
    documents, on heavy grid documents); they are counted and reported as
    sequential.open_rings, not failed."""
    ring = json.loads(r["feature_json"])["geometry"]["coordinates"][0]
    return ring[0] != ring[-1]
