"""The benchmark's workloads.

Each is a closed loop: one caller, one action at a time, repeated until the
run's `--seconds` have passed (at least once). Set-up (program import,
session build and a warm-up action) is timed separately as setup_s; the
benchmark's own input generation is not part of it. Every timed action is
checked; a run whose action raises or whose output check fails counts as
failed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd

from . import checks, inputs, metrics, stats
from .sparkstats import LogTail, SessionCounters, group_stages, run_counters
from .trace import Tracer, per_key_seconds, self_times, top_level_seconds

# streets_small: 10 documents of each of the 21 toy topologies
STREET_DOCS = 210
# the traced kernel replay: a seeded mix, >= 500 per-document samples
KERNEL_TOY, KERNEL_HEAVY = 420, 80
# text_leaves: 2/5 of the sf0.1 test tables' documents; their vector and
# event counts
TEXT_DOCS, TEXT_VECTORS, TEXT_EVENTS = 2000, 2000, 100_000
# rows and digest of the replay over the warm-up corpus, recorded from
# the kernel this benchmark was written against
WARMUP_GOLDEN = (891, 16159922772847896335)


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    t_start: float        # process start, epoch seconds
    own_s: float = 0.0    # benchmark-own work done before set-up ended


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # end-to-end: name -> samples (value reported is their median)
    samples: dict[str, list[float]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def _median_layers(dicts: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def _kernel_wraps(tracer: Tracer) -> None:
    from osm2streets_spark.plans import sequential as seq

    tracer.wrap(seq, "convert_document", "graph")
    tracer.wrap(seq, "_parse_one_doc", "parse")
    tracer.wrap(seq, "_lane_cols", "lanes")
    tracer.wrap(seq, "_ends_frame", "t6_frame")
    tracer.wrap(seq, "t6_process", lambda *a, **k: (
        "t6_pass1" if k.get("trims_only", a[1] if len(a) > 1 else False)
        else "t6_pass2"))
    tracer.wrap(seq, "apply_standard_transforms", "transforms")
    tracer.wrap(seq, "rebuild_center", "rebuild")
    tracer.wrap(seq, "feature_rows", "render")


def kernel_layers(seed: int, res: Result) -> None:
    """sequential.*: one single-thread replay of a seeded mix of toy and
    heavy documents (no Spark) with a span around every kernel layer; the
    layers' self times plus unattributed_s add up to the pass's wall time.
    The replay of the fixed warm-up corpus, which runs first, must give the
    recorded WARMUP_GOLDEN, and every replayed document must render rows
    that pass checks.feature_problem."""
    from osm2streets_spark.plans import sequential as seq

    got = checks.row_digest(checks.replay_rows(
        inputs.warmup_docs(), seq.convert_document, seq.feature_rows))
    if got != WARMUP_GOLDEN:
        res.problems.append(f"warm-up replay (rows, digest) {got} != "
                            f"recorded {WARMUP_GOLDEN}")
    docs = inputs.mixed_docs(KERNEL_TOY, KERNEL_HEAVY, seed)
    per_doc: list[list[dict]] = []
    roads_n = 0
    with Tracer() as tracer:
        _kernel_wraps(tracer)
        t0 = time.perf_counter()
        for doc_id, spans in docs:
            tracer.key = doc_id
            roads, ints, *_ = seq.convert_document(doc_id, spans)
            per_doc.append(seq.feature_rows(doc_id, roads, ints))
            roads_n += len(roads)
        wall = time.perf_counter() - t0
    for doc_rows in per_doc:
        bad = [p for p in map(checks.feature_problem, doc_rows) if p]
        if bad or not doc_rows:
            res.problems.append(bad[0] if bad else
                                "document rendered no rows")
    rows = [r for d in per_doc for r in d]
    selfs = self_times(tracer.spans)
    doc_ms = [v * 1e3 for v in per_key_seconds(tracer.spans).values()]
    out = {f"{k}_s": selfs.get(k, 0.0) for k in metrics.KERNEL_LAYERS}
    out["unattributed_s"] = wall - top_level_seconds(tracer.spans)
    out["doc_ms_p50"] = statistics.median(doc_ms)
    out["doc_ms_p98"] = stats.percentile(doc_ms, 98.0)
    out["roads"] = roads_n
    out["features"] = len(rows)
    out["open_rings"] = sum(map(checks.ring_open, rows))
    print(f"  traced kernel replay: {len(docs)} docs ({KERNEL_TOY} toy, "
          f"{KERNEL_HEAVY} heavy), wall {wall:.3f} s = layer self times "
          f"{sum(selfs.values()):.3f} s + unattributed "
          f"{out['unattributed_s']:.3f} s; doc_ms {stats.describe(doc_ms)}; "
          f"open polygon rings (known kernel defect): {out['open_rings']}")
    res.layers.update({f"sequential.{k}": v for k, v in out.items()})


# --- Spark harness ---------------------------------------------------------

@dataclass
class Action:
    value: object
    wall_s: float
    counters: dict[str, float]
    codegen_compiles: int
    codegen_compile_s: float
    error_lines: int


class SparkRun:
    """A SparkSession started with its JVM's output captured to a log, plus
    the per-action and session counters read around each action."""

    def __init__(self, ctx: Ctx):
        from osm2streets_spark.session import get_spark

        self.cores = ctx.cores
        log_path = os.path.join(ctx.work, "driver.log")
        sys.stdout.flush()
        sys.stderr.flush()
        saved = (os.dup(1), os.dup(2))
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        try:
            # the JVM and its Python workers inherit fds 1 and 2
            os.dup2(fd, 1)
            os.dup2(fd, 2)
            self.spark = get_spark("perfbench", cores=ctx.cores)
        finally:
            os.dup2(saved[0], 1)
            os.dup2(saved[1], 2)
            for f in (fd, *saved):
                os.close(f)
        self.sc = self.spark.sparkContext
        self.session = SessionCounters(self.spark)
        self.log = LogTail(log_path)
        self._groups = 0

    def clean(self) -> None:
        """Drop cached relations and let the ContextCleaner free what the
        previous action's dead plans held (as bench.py does between runs)."""
        self.spark.catalog.clearCache()
        self.sc._jvm.System.gc()

    def settle(self) -> tuple[int, float]:
        """(persisted RDDs, block-manager MB) left once cleanup ran."""
        self.clean()
        time.sleep(0.5)
        return self.session.persisted_rdds(), self.session.block_memory_mb()

    def action(self, build, sink) -> Action:
        """Time sink(build()) in a job group of its own. ERROR lines logged
        since the previous action are charged to this one, so late reports
        of the previous action's tasks land here."""
        self.clean()
        group = f"perfbench-{self._groups}"
        self._groups += 1
        self.sc.setJobGroup(group, group)
        compiles0, compile_s0 = self.session.codegen()
        t0 = time.time()
        df = build()
        t_built = time.time()
        value = sink(df)
        t1 = time.time()
        compiles1, compile_s1 = self.session.codegen()
        n_jobs, stages = group_stages(self.sc, group)
        counters = run_counters(n_jobs, stages, t0, t1, self.cores)
        counters["plan_build_s"] = t_built - t0
        return Action(value, t1 - t0, counters,
                      compiles1 - compiles0, compile_s1 - compile_s0,
                      self.log.new_error_lines())

    def stop(self) -> None:
        from .procs import stop_spark

        stop_spark(self.spark)


def _session_layers(runs: list[list[Action]], persisted: int,
                    block_mb: float) -> dict[str, float]:
    """session.*: per-run counters as the median over runs (a run being
    one or more actions), plus what the session retained after the last."""
    def per_run(attr: str) -> float:
        return statistics.median(sum(getattr(a, attr) for a in acts)
                                 for acts in runs)
    return {
        "session.codegen_compiles": per_run("codegen_compiles"),
        "session.codegen_compile_s": per_run("codegen_compile_s"),
        "session.persisted_rdds_after": persisted,
        "session.retained_block_mb": block_mb,
        "session.error_log_lines": per_run("error_lines"),
    }


def _combine(counters: list[dict[str, float]], wall: float,
             cores: int) -> dict[str, float]:
    """pipeline.* of several actions run back to back."""
    out = {k: sum(c[k] for c in counters) for k in counters[0]}
    out["busy_frac"] = out["executor_run_s"] / (cores * wall)
    out["task_skew"] = max(c["task_skew"] for c in counters)
    return out


def _zero_layers(prefixes: tuple[str, ...]) -> dict[str, float]:
    """0 for the per-layer metrics of layers this workload does not run."""
    return {k: 0.0 for k in metrics.PER_LAYER if k.startswith(prefixes)}


# --- streets_small -----------------------------------------------------------

def _plan_wraps(tracer: Tracer) -> None:
    from osm2streets_spark.plans import pipeline

    for attr in ("load_documents", "parse_stage", "graph_stage",
                 "run_transforms", "run_t6", "apply_trims",
                 "finalize_intersections"):
        tracer.wrap(pipeline, attr)
    tracer.wrap(pipeline, "render_roads", "render")
    tracer.wrap(pipeline, "render_intersections", "render")


def streets_small(ctx: Ctx, res: Result) -> None:
    """flagship_query over STREET_DOCS seeded toy documents. The traced run
    also reports the kernel's layers (kernel_layers), after Spark stops."""
    from osm2streets_spark.plans import pipeline
    from osm2streets_spark.plans import sequential as seq

    t = time.time()
    docs = inputs.street_docs(STREET_DOCS, ctx.seed)
    corpus = inputs.write_documents(
        os.path.join(ctx.work, f"streets_small-{ctx.seed}"), docs)
    ctx.own_s += time.time() - t
    run = SparkRun(ctx)
    try:
        # warm-up: one untimed conversion of the same corpus, so the timed
        # runs see a JIT-compiled JVM and a filled codegen cache
        warm = pipeline.flagship_query(run.spark, corpus)
        schema = warm.schema
        warm_value = checks.checksum_sink(warm)
        res.samples["setup_s"] = [time.time() - ctx.t_start - ctx.own_s]

        digest = checks.source_digest(
            os.path.join(ctx.root, "osm2streets_spark"))
        ref = checks.cached(
            os.path.join(ctx.work, "ref", f"streets_small-{ctx.seed}-"
                         f"{STREET_DOCS}-{digest}.json"),
            lambda: list(checks.rows_checksum(run.spark, pd.DataFrame(
                checks.replay_rows(docs, seq.convert_document,
                                   seq.feature_rows)), schema)))
        if list(warm_value) != list(ref):
            res.problems.append(f"warm-up (rows, checksum) {warm_value} != "
                                f"replay {tuple(ref)}")
        print(f"  reference (sequential replay): {ref[0]} rows")

        def loop(tracer: Tracer | None) -> list[Action]:
            acts: list[Action] = []
            start = time.time()
            while True:
                res.attempted += 1

                def build():
                    if tracer is None:
                        return pipeline.flagship_query(run.spark, corpus)
                    tracer.key = f"run{len(acts)}"
                    return tracer.span("other", pipeline.flagship_query,
                                       run.spark, corpus)
                try:
                    a = run.action(build, checks.checksum_sink)
                except Exception as exc:  # counted as a failed run
                    res.fail(f"flagship raised {type(exc).__name__}: {exc}")
                else:
                    if list(a.value) != list(ref):
                        res.fail(f"flagship (rows, checksum) {a.value} != "
                                 f"replay {tuple(ref)}")
                    acts.append(a)
                if time.time() - start >= ctx.seconds:
                    return acts

        run.log.new_error_lines()  # set-up's lines are not a run's
        acts = loop(None)
        if not acts:
            return
        walls = [a.wall_s for a in acts]
        res.samples["wall_s"] = walls
        res.samples["docs_per_s"] = [STREET_DOCS / w for w in walls]
        persisted, block_mb = run.settle()
        res.layers.update({f"pipeline.{k}": v for k, v in
                           _median_layers([a.counters for a in acts]).items()})
        res.layers.update(_session_layers([[a] for a in acts], persisted,
                                          block_mb))

        if ctx.trace:
            with Tracer() as tracer:
                _plan_wraps(tracer)
                traced = loop(tracer)
            if traced:
                res.layers["trace.overhead_s"] = (
                    statistics.median(a.wall_s for a in traced)
                    - statistics.median(walls))
                selfs = self_times(tracer.spans)
                res.layers.update({
                    f"pipeline.plan.{k}_s": selfs.get(k, 0.0) / len(traced)
                    for k in metrics.PLAN_SPANS})
    finally:
        run.stop()
    if ctx.trace:
        kernel_layers(ctx.seed, res)
        res.layers.update(_zero_layers(("text.",)))


# --- text_leaves -------------------------------------------------------------

TEXT_TABLES = ("documents", "embeddings", "events")
# dd_minhash_lsh keeps a pair only if its MinHash signatures share a band,
# so it misses a pair near its threshold now and then (recall 0.97-1.0 on
# seeds 1-19; 0.67-0.79 with 8 bands of 4 rows instead of 16 of 2): its
# rows are checked as a subset of the oracle's with this recall floor
LSH_LEAF, LSH_RECALL_FLOOR = "dd_minhash_lsh", 0.9


def _text_sink(name: str):
    return checks.row_hashes_sink if name == LSH_LEAF else \
        checks.checksum_sink


def _text_check(name: str, got, expected) -> tuple[float, str | None]:
    """(recall, problem or None) of one leaf's sink value."""
    if name == LSH_LEAF:
        return checks.recall_check(got, expected, LSH_RECALL_FLOOR)
    if got != expected:
        return 0.0, f"(rows, checksum) {got} != oracle {expected}"
    return 1.0, None


def text_leaves(ctx: Ctx, res: Result) -> None:
    """The six text/dedup/similarity/event leaves bench.py times, summed."""
    t = time.time()
    tables = inputs.write_text_tables(
        os.path.join(ctx.work, f"text-{ctx.seed}"), ctx.seed, TEXT_DOCS,
        TEXT_VECTORS, TEXT_EVENTS)
    ctx.own_s += time.time() - t
    from osm2streets_spark.plans import registry

    run = SparkRun(ctx)
    try:
        q = registry.queries()
        warm = {}
        for name in metrics.TEXT_LEAVES:
            df = q[name](run.spark, tables)
            warm[name] = (_text_sink(name)(df), df.schema)
        res.samples["setup_s"] = [time.time() - ctx.t_start - ctx.own_s]

        # each leaf's DuckDB oracle, reduced to the timed sink's value
        oracles = registry.oracle_sql()
        con = checks.duckdb_views(tables, TEXT_TABLES)
        expected = {name: checks.rows_checksum(
            run.spark, con.execute(oracles[name]).df(), schema,
            _text_sink(name)) for name, (_, schema) in warm.items()}
        con.close()
        for name, (value, _) in warm.items():
            problem = _text_check(name, value, expected[name])[1]
            if problem:
                res.problems.append(f"warm-up {name}: {problem}")
        print("  oracle rows: " + ", ".join(
            f"{n}={len(v) if n == LSH_LEAF else v[0]}"
            for n, v in expected.items()))

        passes: list[dict[str, Action]] = []
        recalls: list[float] = []
        run.log.new_error_lines()  # set-up's lines are not a run's
        start = time.time()
        while True:
            res.attempted += 1
            acts: dict[str, Action] = {}
            try:
                for name in metrics.TEXT_LEAVES:
                    acts[name] = a = run.action(
                        lambda name=name: q[name](run.spark, tables),
                        _text_sink(name))
                    recall, problem = _text_check(name, a.value,
                                                  expected[name])
                    if problem:
                        raise ValueError(f"{name}: {problem}")
                    if name == LSH_LEAF:
                        recalls.append(recall)
            except Exception as exc:  # counted as a failed pass
                res.fail(f"text pass: {type(exc).__name__}: {exc}")
            else:
                passes.append(acts)
            if time.time() - start >= ctx.seconds:
                break
        if not passes:
            return
        walls = [sum(a.wall_s for a in p.values()) for p in passes]
        res.samples["wall_s"] = walls
        res.samples["docs_per_s"] = [TEXT_DOCS / w for w in walls]
        persisted, block_mb = run.settle()
        per_pass = [_combine([a.counters for a in p.values()], w, ctx.cores)
                    for p, w in zip(passes, walls)]
        res.layers.update({f"pipeline.{k}": v
                           for k, v in _median_layers(per_pass).items()})
        res.layers.update(_session_layers(
            [list(p.values()) for p in passes], persisted, block_mb))
        for name in metrics.TEXT_LEAVES:
            res.layers[f"text.{name}_s"] = statistics.median(
                p[name].wall_s for p in passes)
            res.layers[f"text.{name}.tasks"] = statistics.median(
                p[name].counters["tasks"] for p in passes)
            res.layers[f"text.{name}.shuffle_read_mb"] = statistics.median(
                p[name].counters["shuffle_read_mb"] for p in passes)
        res.layers[f"text.{LSH_LEAF}.recall"] = statistics.median(recalls)
        print(f"  {LSH_LEAF} recall against the oracle: "
              f"{statistics.median(recalls):.4f}")
    finally:
        run.stop()
    if ctx.trace:
        # no spans are recorded on this workload
        res.layers["trace.overhead_s"] = 0.0
        res.layers.update(_zero_layers(("pipeline.plan.", "sequential.")))


WORKLOADS = {
    "streets_small": streets_small,
    "text_leaves": text_leaves,
}
