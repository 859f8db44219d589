"""SparkSession factory with scale-oriented defaults.

AQE (runtime re-planning + skew-join handling), Arrow-batched pandas
UDFs, and shuffle partitions sized to the core count — the settings we'd
ship in spark-defaults on a real cluster (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_int(name: str, default: int) -> int:
    """The positive integer in environment variable `name`. Unset, empty,
    zero or negative gives `default`; anything that is not an integer
    raises ValueError naming the variable, before it can reach a Spark
    conf or a partition count."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise ValueError(
            f"{name}={raw!r}: expected a positive integer") from None
    return value if value > 0 else default


def get_spark(app: str = "osm2streets-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = env_int("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # 1x cores: our shuffles are byte-small, so AQE's coalesce
        # floor (minPartitionNum=cores) is where every over-provisioned
        # shuffle lands anyway — provisioning 2x cores just paid the
        # extra map/reduce task fixed costs first (interleaved A/B at
        # sf0.1: 2x-cores flagship ~20-22 s vs 1x-cores ~13-15 s; AQE
        # skew split still raises it when a partition is genuinely
        # hot). On a real cluster SPARK_GRAFT_SHUFFLE_PARTITIONS pins
        # it data-proportionally instead (scaling-criterion runs: same
        # task list at every cluster size — see kernel_partitions).
        shuffle_partitions = (
            env_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 0) or cores)
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # normalize the env value (r7 ADVICE): 0/false/no/off → false,
        # anything else → true; the raw string previously reached
        # spark.sql.adaptive.enabled verbatim and any non-boolean value
        # (e.g. SPARK_GRAFT_AQE=1) threw IllegalArgumentException at
        # session build
        .config("spark.sql.adaptive.enabled",
                "false" if os.environ.get("SPARK_GRAFT_AQE", "true")
                .strip().lower() in ("0", "false", "no", "off")
                else "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # our shuffles are byte-small but Python-CPU-heavy (geometry
        # kernels); don't let AQE coalesce below the core count or the
        # UDF stages serialize onto one task
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
                str(cores))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(env_int("SPARK_GRAFT_ARROW_BATCH", 2048)))
        .config("spark.sql.session.timeZone", "UTC")
        # static conf, must be set at session build: the default
        # 100-entry codegen class cache thrashes on the flagship's ~236
        # generated classes, so EVERY bench run re-Janino-compiles the
        # whole pipeline (~2 s of serial driver time per run, measured
        # via CodegenMetrics: 236/235/236 compiles on three repeat
        # builds at 100 entries vs 9/0/4 at 4000). Scale-independent —
        # a bigger class cache helps any repeated-plan workload and is
        # bounded (~2k classes); it caches compiled bytecode, never
        # data or results.
        .config("spark.sql.codegen.cache.maxEntries",
                str(env_int("SPARK_GRAFT_CODEGEN_CACHE", 2000)))
        # PySpark 4 wraps every DataFrame op in a call-site capture
        # (2+ Py4J RPCs per op, for richer error messages). The
        # flagship's deep plans issue ~700 ops per build; the capture
        # alone measured ~1.6 s of the driver's DAG-construction time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # UI off by default (costs listener/jetty overhead in benches);
        # SPARK_GRAFT_UI=1 turns it on for REST-API stage forensics
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") else "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    return builder.getOrCreate()


# target docs per kernel task: big enough to amortize the fixed
# per-task cost, small enough that a straggler partition can't hold a
# whole stage (measured sweet spot at the sf0.1 bench corpus)
DOCS_PER_KERNEL_PARTITION = 64

# target docs per task for the lighter text-analysis/dedup pandas UDFs
# (shingles, fingerprints): r8 interleaved sweep at sf0.1 — see
# docs_partitions below
DOCS_PER_TEXT_PARTITION = 128


def docs_partitions(spark: SparkSession, n_docs: int,
                    factor: int = 4) -> int:
    """Partition count for Python-CPU-heavy scans of a documents table
    (shingle/fingerprint pandas UDFs). Data-proportional like
    kernel_partitions — ~DOCS_PER_TEXT_PARTITION docs per task with a
    cores×factor cap — but with NO floor at the core count (see below),
    and it takes the row count directly (parquet footer) instead of the
    session-conf hint. Rationale (r8): the driver's documents table
    is ONE small parquet file, so the file-split scan runs the whole
    shingle/fingerprint UDF on a single core; an explicit doc_id
    repartition sized to the data restores cluster-width parallelism
    for the Python stage while costing one shuffle of the text bytes
    (at 100 TB the table is bucketed by doc_id and the shuffle
    disappears; SPARK_GRAFT_DOC_PARTITIONS pins the count for
    criterion runs, like the other two knobs)."""
    pinned = env_int("SPARK_GRAFT_DOC_PARTITIONS", 0)
    if pinned:
        return pinned
    cores = spark.sparkContext.defaultParallelism
    if n_docs <= 0:
        return cores * 2
    # NO cores floor, unlike kernel_partitions: these text UDFs are
    # ~10× lighter per doc than the geometry kernels, so the fixed
    # per-task cost dominates sooner. Interleaved sweep at sf0.1
    # (2,100 docs, r8): 0 parts (1-task scan) / 8 / 16 / 33 gave
    # minhash 2.59/1.72/1.70/2.11 s, jaccard 3.27/1.76/1.50/2.31 s,
    # fingerprints 0.82/0.54/0.53/0.72 s — ~128 docs/task is the
    # plateau, and the cores floor (33 → a 2-wave straggler) gives
    # back half the win.
    return max(1, min(cores * factor,
                      -(-n_docs // DOCS_PER_TEXT_PARTITION)))


def kernel_partitions(spark: SparkSession, factor: int = 4) -> int:
    """Partition count for the Python-CPU-heavy kernel repartitions.

    cores×factor for load balance (heavy groups must spread), but never
    more than the document count: a 128-partition shuffle over a
    21-doc test corpus is ~107 empty tasks, each paying the
    python-worker round trip — measured as the dominant fixed cost of
    small runs. The doc count comes from `spark_graft.docs_hint`, set
    by load_documents from the parquet footer (no job). At deployment
    scale the hint is >> cores×factor and this is exactly cores×factor.

    DATA-PROPORTIONAL override: SPARK_GRAFT_KERNEL_PARTITIONS pins the
    kernel partition count regardless of core count — the 100 TB-style
    sizing (partitions follow data, a cluster of any size runs the same
    task list in more or fewer waves). The round-6 scaling diagnosis
    measured the cores×factor default paying ~3.8× the per-task fixed
    JVM cost at 16c vs 4c for the same corpus, a pure asymmetry that
    the criterion measurement eliminates by pinning."""
    pinned = env_int("SPARK_GRAFT_KERNEL_PARTITIONS", 0)
    if pinned:
        return pinned
    cores = spark.sparkContext.defaultParallelism
    n = cores * factor
    try:
        hint = int(spark.conf.get("spark_graft.docs_hint", "0"))
    except Exception:
        hint = 0
    if hint > 0:
        # data-proportional: aim for >= DOCS_PER_KERNEL_PARTITION docs
        # per task so the per-task fixed cost (scheduler + python
        # worker round trip, ~30-60 ms here) stays amortized. Measured
        # at sf0.1 (2,100 docs): 128 partitions -> 16 docs/task ran the
        # flagship ~6 s slower than 32 partitions; at deployment scale
        # hint/target >> cores*factor and the cores*factor cap binds,
        # so balance across a big cluster is unchanged.
        n = max(cores, min(n, hint,
                           -(-hint // DOCS_PER_KERNEL_PARTITION)))
        n = min(n, hint)
    return n
