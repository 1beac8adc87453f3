"""The benchmark workloads.

Each is a closed loop: one client issues the next operation only after the
previous one returns, in one driver process on ``local[nproc]``. A workload
has three parts:

- ``prepare(ctx)``: write the seeded inputs (before the session starts);
- ``run(ctx)``: an un-timed warm-up, which also checks the outputs, then
  operations until ``--seconds`` have passed;
- ``check(ctx)``: the check results, counted against the operations.

``run`` records each operation's wall time in ``ctx.ops``; per-layer
numbers come from the tracer's spans (see ``layers.py``).
"""

from __future__ import annotations

import contextlib
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, harness, inputs
from perfbench.layers import Tracer, sum_rollups

KEYS = ["doc_id", "seq"]


@dataclass
class Ctx:
    """State of one run, passed to every workload step."""

    seed: int
    seconds: float
    cores: int
    tracer: Tracer | None = None
    spark: object = None
    work: str = harness.WORK
    ops: list[dict] = field(default_factory=list)  # one per timed operation
    errors: list[str] = field(default_factory=list)
    failed_ops: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)  # provenance for the artifact

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled


def _timed(ctx: Ctx, min_ops: int, step) -> None:
    """Call ``step(i, traced)`` until ``ctx.seconds`` have passed and at
    least ``min_ops`` calls were made. A traced run alternates traced and
    untraced calls, so it can report the tracing overhead, and samples the
    process tree's peak RSS meanwhile; an untraced run samples nothing."""
    ctx.info["timed_start"] = time.time()
    deadline = ctx.info["timed_start"] + ctx.seconds
    i = 0
    sampler = harness.RssSampler() if ctx.traced else contextlib.nullcontext()
    with sampler as rss:
        while i < min_ops or time.time() < deadline:
            traced = ctx.traced and i % 2 == 0
            try:
                step(i, traced)
            except Exception as e:  # noqa: BLE001 -- a failed op is counted
                ctx.errors.append(f"op {i}: {type(e).__name__}: {e}")
                ctx.ops.append({"wall": float("nan"), "traced": traced,
                                "failed": True})
            i += 1
    ctx.info["timed_s"] = time.time() - ctx.info["timed_start"]
    ctx.info["peak_rss_kb"] = rss.peak_kb if rss else 0


def _warm_up(fn, seconds: float, min_calls: int = 1) -> list[float]:
    """Un-timed calls of ``fn`` for ``seconds`` and at least ``min_calls``
    times; returns their walls. Flagship pass times in a fresh JVM fall
    for the first ~15-20 s (5.8, 2.3, 1.5, 1.4, 1.2 s ...) while the JIT
    compiler threads compete with the tasks for the cores."""
    walls: list[float] = []
    deadline = time.time() + seconds
    while len(walls) < min_calls or time.time() < deadline:
        t0 = time.time()
        fn()
        walls.append(time.time() - t0)
    return walls


def _overhead(ops: list[dict]) -> float:
    """Traced over untraced median wall, minus one (0 without pairs)."""
    tr = [o["wall"] for o in ops if o["traced"] and not o.get("failed")]
    un = [o["wall"] for o in ops if not o["traced"] and not o.get("failed")]
    if not tr or not un:
        return 0.0
    return harness.median(tr) / harness.median(un) - 1.0


def _layer_medians(ctx: Ctx, cycles: list[dict], walls: list[float]) -> None:
    """Per-layer values: the median over traced cycles of each counter."""
    if not cycles:
        return
    for k in cycles[0]:
        ctx.layer[k] = harness.median([c[k] for c in cycles])
    ctx.layer["cpu.util"] = harness.median(
        [c["jvm.executor_run_s"] / (w * ctx.cores) for c, w in zip(cycles, walls)]
    )


# ------------------------------------------------------------------ flagship

class PitFlagship:
    """``feature_pipeline`` over ~7 M seeded tokens into the noop sink."""

    name = "pit_flagship"
    n_docs = 20_000
    oracle_docs = 24
    resume_files = 1  # of the 8 input files
    # noop passes after the checks: the first one still compiles the noop
    # plan (~3 s), and pass times keep falling for ~10 s after it
    warm_s = 10.0
    warm_passes = 5

    def prepare(self, ctx: Ctx) -> None:
        from audio_feature_extraction_spark.datagen import GenConfig

        self.cfg = GenConfig(n_docs=self.n_docs, seed=ctx.seed, max_tok=256)
        self.inp = inputs.write_sequences(os.path.join(ctx.work, "pit"), self.cfg)
        ctx.info["input"] = {"seed": ctx.seed, "docs": self.inp.n_docs,
                             "rows": self.inp.rows, "tokens": self.inp.tokens}

    def _frames(self, ctx: Ctx):
        read = ctx.spark.read
        return read.parquet(self.inp.seq_path), read.parquet(self.inp.ref_path)

    def run(self, ctx: Ctx) -> None:
        from audio_feature_extraction_spark.plans.pipeline import feature_pipeline

        # read once: Parquet schema inference runs Spark jobs, which would
        # otherwise count against the pipeline's plan building
        seq, ref = self._frames(ctx)
        ctx.info["plan_hashes"] = {
            "feature_pipeline": harness.plan_hash(feature_pipeline(seq, ref), ctx.work)
        }
        # warm-up: the output checks, then noop passes
        t0 = time.time()
        self.check_errors = self._check(ctx, seq, ref)
        ctx.info["check_s"] = time.time() - t0
        ctx.info["warm_walls"] = _warm_up(
            lambda: feature_pipeline(seq, ref).write.format("noop").mode("overwrite").save(),
            self.warm_s, self.warm_passes,
        )
        tr = ctx.tracer
        cycles, walls, builds = [], [], []

        def step(i: int, traced: bool) -> None:
            with tr.span("pit.pass", traced=traced) as sp:
                with tr.span("plans.build", parent=sp, traced=traced) as b:
                    out = feature_pipeline(seq, ref)
                out.write.format("noop").mode("overwrite").save()
            wall = sp["end"] - sp["start"]
            ctx.ops.append({"wall": wall, "traced": traced})
            if traced:
                tr.collect(sp, build=b)
                cycles.append(sum_rollups([sp["spark"]]))
                walls.append(wall)
                builds.append(b["end"] - b["start"])

        _timed(ctx, 5, step)
        _layer_medians(ctx, cycles, walls)
        if builds:
            ctx.layer["plans.build_s"] = harness.median(builds)

    def summary(self, ctx: Ctx) -> tuple[list[float], float, float]:
        """(operation walls, wall_s, items per wall_s): passes, their
        median, tokens."""
        per = [o["wall"] for o in ctx.ops if not o["traced"] and not o.get("failed")]
        return per, harness.median(per), float(self.inp.tokens)

    def check(self, ctx: Ctx) -> list[str]:
        return self.check_errors

    def _check(self, ctx: Ctx, seq, ref) -> list[str]:
        from pyspark.sql import functions as F

        from audio_feature_extraction_spark.oracle import oracle_features
        from audio_feature_extraction_spark.plans.pipeline import feature_pipeline

        out = feature_pipeline(seq, ref)
        errs = checks.check_token_hash(
            checks.token_hash_agg(seq), checks.token_hash_agg(out)
        )
        rng = np.random.default_rng([ctx.seed, 0xC4])
        docs = [f"doc{i:08d}" for i in rng.choice(self.n_docs, self.oracle_docs,
                                                   replace=False)]
        pick = F.col("doc_id").isin(docs)
        want = oracle_features(seq.where(pick).toPandas(), ref.where(pick).toPandas())
        errs += checks.check_features(out.where(pick).toPandas(), want)

        # checkpoint resume on the first of the input's 8 files
        import pyarrow.parquet as pq

        files = sorted(os.path.join(self.inp.seq_path, f)
                       for f in os.listdir(self.inp.seq_path))[: self.resume_files]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        tokens = sum(pq.read_table(f, columns=["n_tok"])["n_tok"].to_numpy().sum()
                     for f in files)
        return errs + resume_check(
            ctx, ctx.spark.read.parquet(*files), ref, rows, 4 * int(tokens)
        )


# ------------------------------------------------------------------ registry

class RegistryHead:
    """The first ``head_n`` registry queries over seeded sf tables, one
    after another into the noop sink; the seed also permutes their order."""

    name = "registry_head"
    head_n = 15
    sf = 0.01
    check_threads = 4

    def prepare(self, ctx: Ctx) -> None:
        import __spark_entry__ as em

        self.sf_dir = os.path.join(ctx.work, "sf")
        rows = inputs.write_sf_tables(self.sf_dir, self.sf, ctx.seed)
        self.queries = em.queries()
        self.oracles = em.oracle_sql()
        head = list(self.queries)[: self.head_n]
        order = np.random.default_rng([ctx.seed, 0x4E]).permutation(len(head))
        self.order = [head[i] for i in order]
        ctx.info["input"] = {"seed": ctx.seed, "sf": self.sf, "rows": rows}
        ctx.info["queries"] = self.order

    def run(self, ctx: Ctx) -> None:
        from tools.check_entry import compare

        spark, tr = ctx.spark, ctx.tracer
        # warm-up pass: every query once, collected and checked against its
        # DuckDB twin (oracle time stays out of the timed region and out of
        # setup_s); queries are collected a few at a time to keep the
        # un-timed part of the run short
        self.bad: set[str] = set()
        self.check_errors: list[str] = []
        with ThreadPoolExecutor(self.check_threads) as pool:
            got = dict(zip(self.order, pool.map(
                lambda name: self._collect(ctx, name), self.order)))
        spark.catalog.clearCache()
        ctx.info["plan_hashes"] = {n: h for n, (h, _) in got.items()}
        con = self._duckdb(ctx)
        try:
            for name in self.order:
                errs = compare(
                    name, got[name][1], con.execute(self.oracles[name]).fetchdf()
                )
                if errs:
                    self.bad.add(name)
                    self.check_errors += [f"{name}: {e}" for e in errs]
        finally:
            con.close()

        per_query: dict[str, list[float]] = {n: [] for n in self.order}
        rollups, builds = [], []

        def one(name: str, traced: bool) -> None:
            with tr.span("query", traced=traced, query=name) as q:
                with tr.span("queries.build", parent=q, traced=traced) as b:
                    df = self.queries[name](spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            wall = q["end"] - q["start"]
            ctx.ops.append({"wall": wall, "traced": traced, "query": name})
            if traced:
                tr.collect(q, build=b)
                rollups.append((name, q["spark"], wall, b["end"] - b["start"]))
            else:
                per_query[name].append(wall)
            spark.catalog.clearCache()

        def step(i: int, _traced: bool) -> None:
            # one query per step, cycling through the permuted head; a traced
            # run executes each query traced and untraced, in alternating
            # order, so the tracing overhead is paired per query
            name = self.order[i % len(self.order)]
            if not ctx.traced:
                one(name, False)
            elif i % 2 == 0:
                one(name, True), one(name, False)
            else:
                one(name, False), one(name, True)

        _timed(ctx, len(self.order), step)
        self.per_query = {n: harness.median(v) for n, v in per_query.items() if v}
        ctx.info["per_query_s"] = self.per_query
        if rollups:
            # one sweep of the head: each query's median over its traced
            # executions, however many sweeps the timed loop held
            by_query: dict[str, list] = {}
            for name, roll, wall, build in rollups:
                by_query.setdefault(name, []).append(
                    {**roll, "wall_s": wall, "build_s": build})
            sweep = {n: {k: harness.median([r[k] for r in rs]) for k in rs[0]}
                     for n, rs in by_query.items()}
            cyc = sum_rollups(list(sweep.values()))
            for k, v in cyc.items():
                ctx.layer[k] = v
            ctx.layer["straggler.max_over_median"] = harness.median(
                [r["straggler.max_over_median"] for r in sweep.values()]
            )
            wall = sum(r["wall_s"] for r in sweep.values())
            ctx.layer["cpu.util"] = cyc["jvm.executor_run_s"] / (wall * ctx.cores)
            ctx.layer["queries.build_s"] = sum(r["build_s"] for r in sweep.values())
            ctx.info["per_query_layers"] = sweep

    def _collect(self, ctx: Ctx, name: str):
        df = self.queries[name](ctx.spark, self.sf_dir)
        return harness.plan_hash(df, ctx.work), df.toPandas()

    def _duckdb(self, ctx: Ctx):
        import duckdb

        from tools.check_entry import TABLES

        con = duckdb.connect()
        con.execute(f"SET threads={ctx.cores}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
            )
        return con

    def summary(self, ctx: Ctx) -> tuple[list[float], float, float]:
        """(per-query medians, their sum, queries)."""
        per = list(self.per_query.values())
        return per, sum(per), float(len(per))

    def check(self, ctx: Ctx) -> list[str]:
        # executions of a query whose checked result was wrong are failures
        ctx.failed_ops += sum(1 for o in ctx.ops if o.get("query") in self.bad
                              and not o.get("failed"))
        return self.check_errors


# ------------------------------------------------------------------ resume

def manifest_totals(path: str) -> dict[int, tuple[int, int]]:
    """``{snapshot_id: (rows, checksum)}`` of a checkpoint table, read
    straight from its manifest files."""
    import pyarrow.parquet as pq

    out = {}
    mdir = os.path.join(path, "manifest")
    for d in sorted(os.listdir(mdir)):
        t = pq.read_table(os.path.join(mdir, d)).to_pydict()
        out[int(d.split("=", 1)[1])] = (
            int(sum(t["rows"])), int(sum(int(x) for x in t["checksum"]))
        )
    return out


def manifest_sum(path: str) -> tuple[int, int]:
    m = manifest_totals(path)
    return sum(v[0] for v in m.values()), sum(v[1] for v in m.values())


def _files(path: str, sub: str) -> list[str]:
    return [os.path.join(b, f) for b, _, fs in os.walk(os.path.join(path, sub))
            for f in fs if f.endswith(".parquet")]


def table_facts(spark, path: str) -> dict:
    """What the resume check compares, for the checkpoint table at ``path``."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.sources.checkpoint import CheckpointTable

    tbl = CheckpointTable(path)
    r = tbl.read(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(k) for k in KEYS]).alias("d"),
    ).collect()[0]
    return {
        "verify_rows": len(tbl.verify(spark, KEYS).collect()),
        "rows": int(r["n"]),
        "distinct_keys": int(r["d"]),
        "manifest": manifest_sum(path),
    }


def resume_check(ctx: Ctx, seq, ref, rows: int, token_bytes: int) -> list[str]:
    """The pipeline's output through ``CheckpointTable`` as a killed run
    resumes it: a snapshot of a seed-chosen half of the docs (the kill),
    ``remaining()``, a snapshot of the rest, ``verify()``. Times each call
    into the ``checkpoint.*`` layer metrics, then checks the table against
    a single-shot write of the same output.

    The pipeline's output is cached first, so no timed call recomputes it.
    ``remaining()`` only builds a lazy anti-join; its result is cached and
    counted inside ``checkpoint.remaining_s``, so that metric holds the
    anti-join itself and ``checkpoint.write_snapshot_s`` holds the writes."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.plans.pipeline import feature_pipeline
    from audio_feature_extraction_spark.sources.checkpoint import CheckpointTable

    base = os.path.join(ctx.work, "ckpt")
    path, single = os.path.join(base, "resumed"), os.path.join(base, "single")
    tbl = CheckpointTable(path)
    out = feature_pipeline(seq, ref).persist()
    out.count()
    half = out.where(F.pmod(F.xxhash64("doc_id", F.lit(ctx.seed)), F.lit(2)) == 0)
    t0 = time.time()
    tbl.write_snapshot(half, KEYS, watermark_col="ts")
    t1 = time.time()
    rest = tbl.remaining(out, KEYS).persist()
    rest.count()
    t2 = time.time()
    tbl.write_snapshot(rest, KEYS, watermark_col="ts")
    t3 = time.time()
    tbl.verify(ctx.spark, KEYS).collect()
    t4 = time.time()
    rest.unpersist()

    snaps = manifest_totals(path)
    data, manifests = _files(path, "data"), _files(path, "manifest")
    stored = sum(os.path.getsize(f) for f in data)
    ctx.layer.update({
        "checkpoint.write_snapshot_s": (t1 - t0) + (t3 - t2),
        "checkpoint.remaining_s": t2 - t1,
        "checkpoint.verify_s": t4 - t3,
        "checkpoint.bytes_written": float(
            stored + sum(os.path.getsize(f) for f in manifests)),
        "checkpoint.files_written": float(len(data) + len(manifests)),
        "checkpoint.resume_rows_ratio": snaps[1][0] / (rows - snaps[0][0]),
        "checkpoint.stored_bytes_ratio": stored / token_bytes,
    })

    CheckpointTable(single).write_snapshot(out, KEYS, watermark_col="ts")
    out.unpersist()
    f = table_facts(ctx.spark, path)
    return checks.check_resume(
        f["verify_rows"], f["rows"], f["distinct_keys"], rows,
        f["manifest"], manifest_sum(single),
    )


WORKLOADS = {w.name: w for w in (PitFlagship, RegistryHead)}
