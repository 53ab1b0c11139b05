"""The four workloads. Each stages seeded inputs, warms the session,
hands out a closed-loop stream of operations against the engine's public
entry points, checks every output, and turns the traced run's spans into
its layer metrics."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import data
from perfbench.oracle import Duck, canon
from perfbench.trace import STAGE_COUNTERS, Tracer

SNAPSHOT_OPS = (
    "append", "merge", "delete", "delete_dv", "optimize", "vacuum",
    "point_lookup", "read_asof", "count",
)
ETL_SINKS = ("dim_customers", "dim_books", "fact_ratings", "top100_books")

#: every layer metric the traced run emits: name -> (unit, better)
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_py4j_calls": ("count", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "catalog.register_views_s": ("s", "lower"),
    "catalog.load_table_s": ("s", "lower"),
    "catalyst.analyze_s": ("s", "lower"),
    "catalyst.optimize_s": ("s", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.slot_busy_frac": ("ratio", "higher"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.input_bytes": ("bytes", "lower"),
    "exec.rows_read_per_row_returned": ("ratio", "lower"),
    "exec.gc_s": ("s", "lower"),
    "etl.build_raw_s": ("s", "lower"),
    "etl.clean_prefix_s": ("s", "lower"),
    **{f"etl.sink_s.{t}": ("s", "lower") for t in ETL_SINKS},
    "pipeline.cache_bytes": ("bytes", "lower"),
    "writers.files_written": ("count", "lower"),
    "writers.bytes_written": ("bytes", "lower"),
    **{
        f"snapshots.{op}_{m}": (u, "lower")
        for op in SNAPSHOT_OPS
        for m, u in (("s", "s"), ("py4j_calls", "count"), ("jobs", "count"))
    },
    "snapshots.files_added_per_commit": ("count", "lower"),
    "snapshots.files_removed_per_commit": ("count", "lower"),
    "snapshots.bytes_written_per_commit": ("bytes", "lower"),
    "snapshots.versions": ("count", "higher"),
    "snapshots.live_files": ("count", "lower"),
    "snapshots.manifest_bytes": ("bytes", "lower"),
    "snapshots.lookup_bytes_read_frac": ("ratio", "lower"),
    "snapshots.maintenance_s": ("s", "lower"),
    "snapshots.bytes_rewritten": ("bytes", "lower"),
    "pyds.read_s": ("s", "lower"),
    "pyds.read_py4j_calls": ("count", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.useful_frac": ("ratio", "higher"),
    "dedup.cc_jobs": ("count", "lower"),
    "similarity.build_py4j_calls": ("count", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


@dataclass
class Ctx:
    spark: Any
    engine: Any
    tracer: Tracer
    seed: int
    work: str
    stage_dir: str
    slots: int
    scale: float = 1.0

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * self.scale)))


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]  # None when the output is right
    write: bool = False


@dataclass
class Rec:
    kind: str
    seconds: float
    write: bool
    error: str | None = None


class Workload:
    name = ""
    pass_len = 1  # the run stops only at a multiple of this many ops

    def stage(self, ctx: Ctx, directory: str) -> None:
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Untimed state built from the staged inputs (oracles, models)."""

    def warm(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> Op:
        raise NotImplementedError

    def instrument(self, ctx: Ctx) -> None:
        """Wrap the layer functions this workload calls (traced run)."""
        t = ctx.tracer
        from bookstore_aws_lakehouse_spark import catalog, engine

        t.wrap(engine, "register_views", "catalog.register_views", "catalog")
        t.wrap(catalog, "load_table", "catalog.load_table", "catalog")

    def layers(self, ctx: Ctx, recs: list[Rec]) -> dict[str, float]:
        return {}

    def detail(self, recs: list[Rec]) -> dict[str, float]:
        return {}

    def close(self, ctx: Ctx) -> None:
        pass


# ---- shared helpers --------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below twenty samples that percentile would sit
    under the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        return v[n - 11], 100.0 * (n - 10) / n, n
    return v[-1], 100.0, n


def build_and_collect(ctx: Ctx, build: Callable[[], Any], **attrs) -> list:
    """Plan-build span, then action span; Catalyst phases read after."""
    t = ctx.tracer
    with t.span("build", "queries", **attrs):
        df = build()
    with t.span("exec", "exec", **attrs) as s:
        rows = df.collect()
    if s is not None:
        s.attrs["rows"] = len(rows)
        s.attrs.update(catalyst_phases(t, df))
    return rows


def catalyst_phases(t: Tracer, df) -> dict[str, float]:
    t.counter.paused = True
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for key in ("parsing", "analysis", "optimization", "planning"):
            opt = phases.get(key)
            out[f"phase_{key}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out
    finally:
        t.counter.paused = False


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for nm in names:
            if nm.endswith(suffix) and not nm.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, nm))
    return files, size


def generic_layers(ctx: Ctx, recs: list[Rec]) -> dict[str, float]:
    """Layer metrics shared by all workloads, as means per op."""
    t = ctx.tracer
    spans = t.spans
    n_ops = max(1, len(recs))
    out: dict[str, float] = {}

    def per_op(x: float) -> float:
        return x / n_ops

    build = [s for s in spans if s.layer == "queries"]
    out["queries.build_s"] = per_op(sum(
        s.seconds - sum(c.seconds for c in t.children(s) if c.layer == "catalog") for s in build))
    out["queries.build_py4j_calls"] = per_op(sum(s.py4j for s in build))
    out["queries.build_jobs"] = per_op(sum(len(x.jobs) for s in build for x in t.subtree(s)))
    top_catalog = [s for s in spans if s.layer == "catalog"
                   and (s.parent is None or spans[s.parent].layer != "catalog")]
    out["catalog.register_views_s"] = per_op(sum(s.seconds for s in top_catalog if s.name == "catalog.register_views"))
    out["catalog.load_table_s"] = per_op(sum(s.seconds for s in top_catalog if s.name == "catalog.load_table"))

    ex = [s for s in spans if s.layer == "exec"]
    work = {k: sum(x.work.get(k, 0) for s in ex for x in t.subtree(s)) for k in STAGE_COUNTERS}
    exec_s = sum(s.seconds for s in ex)
    rows_out = sum(s.attrs.get("rows", 0) for s in ex)
    out.update({
        "catalyst.analyze_s": per_op(sum(s.attrs.get("phase_analysis_s", 0.0) for s in ex)),
        "catalyst.optimize_s": per_op(sum(s.attrs.get("phase_optimization_s", 0.0) for s in ex)),
        "catalyst.plan_s": per_op(sum(s.attrs.get("phase_planning_s", 0.0) for s in ex)),
        "exec.s": per_op(exec_s),
        "exec.jobs": per_op(sum(len(x.jobs) for s in ex for x in t.subtree(s))),
        "exec.stages": per_op(sum(x.stages for s in ex for x in t.subtree(s))),
        "exec.tasks": per_op(work["numTasks"]),
        "exec.executor_run_s": per_op(work["executorRunTime"] / 1000.0),
        "exec.executor_cpu_s": per_op(work["executorCpuTime"] / 1e9),
        "exec.slot_busy_frac": (work["executorRunTime"] / 1000.0) / (exec_s * ctx.slots) if exec_s else 0.0,
        "exec.shuffle_read_bytes": per_op(work["shuffleReadBytes"]),
        "exec.shuffle_write_bytes": per_op(work["shuffleWriteBytes"]),
        "exec.spill_bytes": per_op(work["memoryBytesSpilled"] + work["diskBytesSpilled"]),
        "exec.input_bytes": per_op(work["inputBytes"]),
        "exec.rows_read_per_row_returned": work["inputRecords"] / rows_out if rows_out else 0.0,
        "exec.gc_s": per_op(work["jvmGcTime"] / 1000.0),
    })
    return out


# ---- bi_dashboard ------------------------------------------------------------

_DASH_SQL = {
    "dash_top100_books": """
        SELECT p_partkey, p_name, avg(l_quantity) AS avg_rating, count(*) AS total_ratings
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name HAVING count(*) >= {having}
        ORDER BY avg_rating DESC, p_partkey LIMIT {limit}""",
    "dash_top10_countries": """
        SELECT n_name, count(*) AS customer_count
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name HAVING count(*) >= {having}
        ORDER BY customer_count DESC, n_name LIMIT {limit}""",
    "dash_top10_states": """
        SELECT r_name, n_name, count(*) AS customer_count
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{region}'
        GROUP BY r_name, n_name ORDER BY customer_count DESC, n_name LIMIT {limit}""",
    "dash_top10_authors": """
        SELECT p_brand, avg(l_quantity) AS avg_rating, count(*) AS total_ratings
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand HAVING count(*) >= {having}
        ORDER BY avg_rating DESC, p_brand LIMIT {limit}""",
}
_BI_ROWS = ("topk_books", "join_avg_by_author", "count_star_by_country",
            "drilldown_states", "rollup_geo")


class BiDashboard(Workload):
    """The four dashboard queries, re-issued as parameterized SQL, mixed
    with the registered BI rows; every cycle issues each kind once."""

    name = "bi_dashboard"
    SIZE = data.StarSize(customers=1500, parts=2000, orders=15000, lineitems=60000)

    def stage(self, ctx, directory):
        s = self.SIZE
        size = data.StarSize(ctx.n(s.customers, 50), ctx.n(s.parts, 50),
                             ctx.n(s.orders, 200), ctx.n(s.lineitems, 1000))
        tables = data.star_tables(ctx.seed, size)
        # Engine.sql registers every catalog table, so all of them exist
        tables["events"] = data.events(ctx.seed + 1, ctx.n(1000, 100))
        tables["documents"] = data.documents(ctx.seed + 2, ctx.n(100, 20), 0.2)
        tables["embeddings"] = data.embeddings(ctx.seed + 3, ctx.n(100, 20))
        data.write_tables(tables, directory)
        self.per_part = size.lineitems / size.parts
        self.per_nation = size.customers / 25
        self.per_brand = size.lineitems / 25

    def _params(self, rng, kind):
        if kind == "dash_top100_books":
            return {"having": int(self.per_part * rng.uniform(0.8, 1.05)),
                    "limit": int(rng.choice([50, 75, 100]))}
        if kind == "dash_top10_countries":
            return {"having": int(self.per_nation * rng.uniform(0.7, 1.0)),
                    "limit": int(rng.integers(5, 11))}
        if kind == "dash_top10_states":
            return {"region": str(rng.choice(data.REGIONS)), "limit": int(rng.integers(3, 11))}
        return {"having": int(self.per_brand * rng.uniform(0.85, 1.0)),
                "limit": int(rng.integers(5, 11))}

    def prepare(self, ctx):
        rng = np.random.default_rng([ctx.seed, 1])
        kinds = list(_DASH_SQL) + list(_BI_ROWS)
        self.stream = []  # (kind, sql or None), 40 cycles, then repeated
        for _ in range(40):
            for k in rng.permutation(kinds):
                k = str(k)
                sql = _DASH_SQL[k].format(**self._params(rng, k)) if k in _DASH_SQL else None
                self.stream.append((k, sql))
        self.duck = Duck()
        self.duck.attach_dir(ctx.stage_dir)
        self.expected: dict[str, list] = {}

    def _expect(self, ctx, kind, sql):
        key = sql or kind
        if key not in self.expected:
            self.expected[key] = self.duck.rows(sql or ctx.engine.oracle(kind))
        return self.expected[key]

    def warm(self, ctx):
        seen = set()
        for kind, sql in self.stream:
            if kind not in seen:
                seen.add(kind)
                self._run(ctx, kind, sql)

    def _run(self, ctx, kind, sql):
        eng = ctx.engine
        return build_and_collect(ctx, (lambda: eng.sql(sql)) if sql else (lambda: eng.run(kind)))

    def op(self, ctx, i):
        kind, sql = self.stream[i % len(self.stream)]
        want = self._expect(ctx, kind, sql)

        def check(rows):
            got = canon(rows)
            return None if got == want else f"{kind}: {len(got)} rows differ from DuckDB's {len(want)}"

        return Op(kind, lambda: self._run(ctx, kind, sql), check)

    def layers(self, ctx, recs):
        return generic_layers(ctx, recs)

    def detail(self, recs):
        lat = [r.seconds for r in recs]
        v, pct, n = tail(lat)
        return {"query_p50_s": statistics.median(lat), "query_tail_s": v,
                "query_tail_pct": pct, "query_samples": n,
                "queries_per_s": len(lat) / sum(lat)}

    def close(self, ctx):
        self.duck.close()


# ---- nightly_etl -------------------------------------------------------------

class NightlyEtl(Workload):
    """``run_etl`` over a seeded row sample of a seeded star, each run into
    a fresh mart directory."""

    name = "nightly_etl"
    SIZE = data.StarSize(customers=1500, parts=600, orders=8000, lineitems=32000)
    KEEP = 0.75

    def stage(self, ctx, directory):
        s = self.SIZE
        size = data.StarSize(ctx.n(s.customers, 50), ctx.n(s.parts, 20),
                             ctx.n(s.orders, 200), ctx.n(s.lineitems, 1000))
        tables = data.star_tables(ctx.seed, size)
        tables["lineitem"] = data.sample_rows(ctx.seed + 1, tables["lineitem"], self.KEEP)
        tables["orders"] = data.sample_rows(ctx.seed + 2, tables["orders"], 1.0)
        self.raw_bytes = data.write_tables(tables, directory)

    def prepare(self, ctx):
        duck = Duck()
        duck.attach_dir(ctx.stage_dir)
        # the etl_* twins use ETL_MIN_RATINGS, the threshold run_etl gets below
        self.expected = {t: duck.rows(ctx.engine.oracle(f"etl_{t}")) for t in ETL_SINKS}
        duck.close()
        self.mart_stats: list[tuple[int, int]] = []

    def _run(self, ctx, out):
        from bookstore_aws_lakehouse_spark.queries_etl import ETL_MIN_RATINGS

        ctx.engine.run_etl(out, min_ratings=ETL_MIN_RATINGS)
        return out

    def warm(self, ctx):
        # the JIT needs about four runs to reach steady state on 2 slots
        for i in range(4):
            out = f"{ctx.work}/mart-warm{i}"
            self._run(ctx, out)
            shutil.rmtree(out, ignore_errors=True)

    def op(self, ctx, i):
        out = f"{ctx.work}/mart-{i}"

        def check(path):
            try:
                self.mart_stats.append(dir_bytes(path, ".parquet"))
                duck = Duck()
                try:
                    for t in ETL_SINKS:
                        got = duck.rows(f"SELECT * FROM read_parquet('{path}/{t}/*.parquet')")
                        if got != self.expected[t]:
                            return f"{t}: {len(got)} rows differ from DuckDB's {len(self.expected[t])}"
                finally:
                    duck.close()
                return None
            finally:
                shutil.rmtree(path, ignore_errors=True)

        return Op("run_etl", lambda: self._run(ctx, out), check, write=True)

    def instrument(self, ctx):
        super().instrument(ctx)
        from pyspark.sql import DataFrameWriter

        from bookstore_aws_lakehouse_spark.plans import etl

        t = ctx.tracer
        t.wrap(etl, "build_raw_ratings", "etl.build_raw", "etl")
        t.wrap(etl.CLEAN_PREFIX, "run", "etl.clean_prefix", "etl")
        t.wrap(etl, "fan_out", "etl.fan_out", "etl")
        t.wrap(DataFrameWriter, "save", "etl.sink", "exec",
               name_fn=lambda args, kw: "etl.sink." + os.path.basename(str(args[1]).rstrip("/")),
               after=lambda s: s.attrs.update(cache_bytes=self._cache_bytes(ctx)))

    @staticmethod
    def _cache_bytes(ctx) -> int:
        return sum(i.memSize() + i.diskSize() for i in ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def layers(self, ctx, recs):
        out = generic_layers(ctx, recs)
        t = ctx.tracer
        n = max(1, len(recs))
        spans = t.spans
        out["etl.build_raw_s"] = sum(s.seconds for s in spans if s.name == "etl.build_raw") / n
        out["etl.clean_prefix_s"] = sum(s.seconds for s in spans if s.name == "etl.clean_prefix") / n
        for tbl in ETL_SINKS:
            out[f"etl.sink_s.{tbl}"] = sum(s.seconds for s in spans if s.name == f"etl.sink.{tbl}") / n
        sinks = [s for s in spans if s.name.startswith("etl.sink.")]
        out["pipeline.cache_bytes"] = max((s.attrs.get("cache_bytes", 0) for s in sinks), default=0)
        out["writers.files_written"] = sum(f for f, _ in self.mart_stats) / n
        out["writers.bytes_written"] = sum(b for _, b in self.mart_stats) / n
        return out

    def detail(self, recs):
        lat = [r.seconds for r in recs]
        mart = statistics.median(b for _, b in self.mart_stats) if self.mart_stats else 0
        return {"job_p50_s": statistics.median(lat), "job_samples": len(lat),
                "stored_bytes_per_user_byte": mart / self.raw_bytes}


# ---- lakehouse_commits -------------------------------------------------------

class LakehouseCommits(Workload):
    """A seeded op sequence on one snapshot table. Each cycle runs the four
    writes and the four reads (point lookups twice) in seeded order, then
    optimize + vacuum as maintenance. A Python model of the table checks every read
    and, every four writes, a full scan."""

    name = "lakehouse_commits"
    ROWS = 20000
    BATCH = 500
    DEL_WIDTH = 200
    CHECK_EVERY = 4
    KEEP = 60
    CYCLES = 40
    # the first cycle pays for first calls (the pyds worker, code generation);
    # the second one still runs 10-30 % slower than the ones after it
    WARM_CYCLES = 2
    READS = ("point_lookup", "read_asof", "count", "lakesnap_read")
    WRITES = ("append", "merge", "delete", "delete_dv")
    # lookups are the most frequent read, so a cycle has two
    CYCLE = WRITES + READS + ("point_lookup",)
    pass_len = len(CYCLE) + 2

    def _rows(self, rng, ids) -> pa.Table:
        n = len(ids)
        return pa.table({
            "id": pa.array(ids, pa.int64()),
            "k": pa.array(rng.integers(0, 16, n), pa.int32()),
            "v": rng.integers(0, 10**6, n) / 100.0,
            "s": [f"s{x}" for x in rng.integers(0, 1000, n)],
        })

    def stage(self, ctx, directory):
        rng = np.random.default_rng([ctx.seed, 2])
        self.rows0, self.batch, self.width = ctx.n(self.ROWS, 200), ctx.n(self.BATCH, 10), ctx.n(self.DEL_WIDTH, 4)
        os.makedirs(f"{directory}/batches", exist_ok=True)
        pq.write_table(self._rows(rng, np.arange(self.rows0)), f"{directory}/base.parquet")
        kinds = [str(k) for _ in range(self.CYCLES)
                 for k in [*rng.permutation(self.CYCLE), "optimize", "vacuum"]]
        plan, next_id = [], self.rows0
        for i, kind in enumerate(kinds):
            arg: Any = None
            if kind == "append":
                ids = np.arange(next_id, next_id + self.batch)
                next_id += self.batch
            elif kind == "merge":
                half = self.batch // 2
                ids = np.concatenate([rng.choice(next_id, half, replace=False),
                                      np.arange(next_id, next_id + self.batch - half)])
                next_id += self.batch - half
            if kind in ("append", "merge"):
                arg = f"{directory}/batches/b{i}.parquet"
                pq.write_table(self._rows(rng, ids), arg)
            elif kind in ("delete", "delete_dv"):
                lo = int(rng.integers(0, next_id - self.width))
                arg = (lo, lo + self.width - 1)
            elif kind == "point_lookup":
                arg = int(rng.integers(0, next_id))
            elif kind == "read_asof":
                arg = float(rng.random())  # which retained version to read
            elif kind == "lakesnap_read":
                arg = int(rng.integers(0, 16))
            plan.append((kind, arg))
        self.plan = plan

    @staticmethod
    def _key(t: pa.Table) -> dict[int, tuple]:
        d = t.to_pydict()
        return {i: (k, round(v * 100), s) for i, k, v, s in zip(d["id"], d["k"], d["v"], d["s"])}

    @staticmethod
    def _digest(model: dict[int, tuple]) -> tuple[int, int, int, int]:
        return (len(model), sum(model), sum(r[0] for r in model.values()),
                sum(r[1] for r in model.values()))

    def prepare(self, ctx):
        from bookstore_aws_lakehouse_spark.sources.pyds import register_snapshot_datasource

        register_snapshot_datasource(ctx.spark)
        self.table = f"{ctx.work}/table"
        self.model = self._key(pq.read_table(f"{ctx.stage_dir}/base.parquet"))
        self.version_digest: dict[int, tuple] = {}
        self.version_time: dict[int, float] = {}
        self.commit_stats: list[tuple[int, int, int]] = []  # added, removed, bytes
        self.rewritten: list[int] = []
        self.series: list[tuple[int, int]] = []  # (versions, manifest bytes)
        self.writes_since_check = 0
        self.pos = 0  # next op of the plan

    def warm(self, ctx):
        """Create the table, then run the plan's first cycles untimed."""
        from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_overwrite

        base = ctx.spark.read.parquet(f"{ctx.stage_dir}/base.parquet")
        self._committed(snapshot_overwrite(base, self.table, stats_cols=["id"]))
        for _ in range(self.WARM_CYCLES * self.pass_len):
            op = self.op(ctx, self.pos)
            error = op.check(op.run())
            if error:
                print(f"perfbench: warm-up {op.kind} failed: {error}", file=sys.stderr)
        self.commit_stats.clear()
        self.rewritten.clear()

    # -- manifests, read from the table directory --------------------------
    def _manifest(self, v: int) -> dict:
        with open(f"{self.table}/_manifests/v{v}.json") as f:
            return json.load(f)

    @staticmethod
    def _local(uri: str) -> str:
        return uri[len("file:"):] if uri.startswith("file:") else uri

    def _committed(self, v: int) -> None:
        self.version_digest[v] = self._digest(self.model)
        self.version_time[v] = time.time()
        self.version = v

    def _call(self, ctx, snap, tbl, kind, arg):
        from pyspark.sql import functions as F

        spark = ctx.spark
        if kind == "append":
            return snap.snapshot_append(spark.read.parquet(arg), tbl)
        if kind == "merge":
            return snap.snapshot_merge(spark.read.parquet(arg), tbl, ["id"])
        if kind == "delete":
            return snap.snapshot_delete(spark, tbl, "id", arg[0], arg[1])
        if kind == "delete_dv":
            return snap.snapshot_delete_dv(spark, tbl, column="id", lo=arg[0], hi=arg[1])
        if kind == "optimize":
            return snap.snapshot_optimize(spark, tbl)
        if kind == "vacuum":
            return snap.vacuum(spark, tbl, keep_last=self.KEEP)
        if kind == "point_lookup":
            return [tuple(r) for r in snap.snapshot_point_lookup(spark, tbl, "id", arg).collect()]
        if kind == "count":
            return snap.snapshot_count(spark, tbl)
        if kind == "read_asof":
            df = snap.snapshot_read_asof(spark, tbl, self.version_time[arg])
        else:  # lakesnap_read: the pyds DataSource path
            df = spark.read.format("lakesnap").load(tbl).filter(F.col("k") == arg)
        r = df.agg(F.count("*"), F.sum("id"), F.sum("k"),
                   F.sum(F.round(F.col("v") * 100).cast("long"))).first()
        return tuple(int(x or 0) for x in r)

    def op(self, ctx, i):
        from bookstore_aws_lakehouse_spark.sources import snapshots as snap

        if self.pos >= len(self.plan):
            raise RuntimeError("op plan exhausted; raise CYCLES")
        kind, arg = self.plan[self.pos]
        self.pos += 1
        write = kind in self.WRITES or kind in ("optimize", "vacuum")
        if kind == "read_asof":  # pick among the versions vacuum keeps
            live = sorted(self.version_digest)[-self.KEEP:]
            arg = live[int(arg * len(live))]
        expect = self._expect(kind, arg)
        t = ctx.tracer
        layer = "pyds" if kind == "lakesnap_read" else "snapshots"
        attrs = {"live_bytes": self._live_bytes()} if kind == "point_lookup" and t.enabled else {}

        def run():
            with t.span(f"{layer}.{kind}", layer, **attrs):
                return self._call(ctx, snap, self.table, kind, arg)

        return Op(kind, run, lambda out: self._check(ctx, kind, arg, out, expect), write=write)

    def _expect(self, kind, arg):
        m = self.model
        if kind == "point_lookup":
            r = m.get(arg)
            return [(arg,) + r] if r else []
        if kind == "count":
            return len(m)
        if kind == "read_asof":
            return self.version_digest[arg]
        if kind == "lakesnap_read":
            sub = {i: r for i, r in m.items() if r[0] == arg}
            return self._digest(sub)
        return None

    def _check(self, ctx, kind, arg, out, expect) -> str | None:
        if kind == "point_lookup":
            got = [(r[0], r[1], round(r[2] * 100), r[3]) for r in out]
            return None if got == expect else f"point_lookup {arg}: {got} != {expect}"
        if kind in ("count", "read_asof", "lakesnap_read"):
            return None if out == expect else f"{kind} {arg}: {out} != {expect}"
        # a write: apply it to the model, then record what the commit did
        prev = self.version
        if kind in ("append", "merge"):
            self.model.update(self._key(pq.read_table(arg)))
        elif kind in ("delete", "delete_dv"):
            for i in range(arg[0], arg[1] + 1):
                self.model.pop(i, None)
        v = self._tip()
        self._committed(v)
        if v != prev and kind != "vacuum":
            self._commit_stats(prev, v, kind)
        self.series.append((len(self._versions()), dir_bytes(f"{self.table}/_manifests")[1]))
        self.writes_since_check += 1
        if self.writes_since_check >= self.CHECK_EVERY:
            self.writes_since_check = 0
            from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_read

            got = self._key(pa.Table.from_pandas(snapshot_read(ctx.spark, self.table).toPandas()))
            if got != self.model:
                return f"full scan after {kind}: {self._digest(got)} != {self._digest(self.model)}"
        return None

    def _versions(self) -> list[int]:
        names = os.listdir(f"{self.table}/_manifests")
        return [int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")]

    def _tip(self) -> int:
        return max(self._versions())

    def _commit_stats(self, prev, v, kind):
        a = set(self._manifest(prev)["files"]) if prev is not None else set()
        b = set(self._manifest(v)["files"])
        added = b - a
        nbytes = sum(os.path.getsize(self._local(f)) for f in added)
        self.commit_stats.append((len(added), len(a - b), nbytes))
        if kind == "optimize":
            self.rewritten.append(nbytes)

    def _live_bytes(self) -> int:
        return sum(os.path.getsize(self._local(f)) for f in self._manifest(self._tip())["files"])

    def layers(self, ctx, recs):
        t = ctx.tracer
        n = max(1, len(recs))
        out: dict[str, float] = {}
        for op in SNAPSHOT_OPS:
            ss = [s for s in t.spans if s.name == f"snapshots.{op}"]
            k = max(1, len(ss))
            out[f"snapshots.{op}_s"] = sum(s.seconds for s in ss) / k
            out[f"snapshots.{op}_py4j_calls"] = sum(s.py4j for s in ss) / k
            out[f"snapshots.{op}_jobs"] = sum(len(x.jobs) for s in ss for x in t.subtree(s)) / k
        cs = self.commit_stats or [(0, 0, 0)]
        out["snapshots.files_added_per_commit"] = statistics.mean(c[0] for c in cs)
        out["snapshots.files_removed_per_commit"] = statistics.mean(c[1] for c in cs)
        out["snapshots.bytes_written_per_commit"] = statistics.mean(c[2] for c in cs)
        out["snapshots.versions"] = len(self._versions())
        out["snapshots.live_files"] = len(self._manifest(self._tip())["files"])
        out["snapshots.manifest_bytes"] = dir_bytes(f"{self.table}/_manifests")[1]
        lk = [s.work.get("inputBytes", 0) / s.attrs["live_bytes"]
              for s in t.spans if s.name == "snapshots.point_lookup" and s.attrs.get("live_bytes")]
        out["snapshots.lookup_bytes_read_frac"] = statistics.mean(lk) if lk else 0.0
        maint = [s for s in t.spans if s.name in ("snapshots.optimize", "snapshots.vacuum")]
        out["snapshots.maintenance_s"] = sum(s.seconds for s in maint) / n
        out["snapshots.bytes_rewritten"] = statistics.mean(self.rewritten) if self.rewritten else 0
        rd = [s for s in t.spans if s.name == "pyds.lakesnap_read"]
        out["pyds.read_s"] = sum(s.seconds for s in rd) / max(1, len(rd))
        out["pyds.read_py4j_calls"] = sum(s.py4j for s in rd) / max(1, len(rd))
        return out

    def detail(self, recs):
        w = [r.seconds for r in recs if r.write]
        rd = [r.seconds for r in recs if not r.write]
        d: dict[str, float] = {}
        if w:
            d.update(commit_p50_s=statistics.median(w), commit_tail_s=tail(w)[0], commit_samples=len(w))
        if rd:
            d.update(read_p50_s=statistics.median(rd), read_tail_s=tail(rd)[0], read_samples=len(rd))
        _, table_bytes = dir_bytes(self.table)
        logical = self._digest(self.model)[0] * self._row_bytes()
        d["stored_bytes_per_user_byte"] = table_bytes / logical if logical else 0.0
        if self.series:
            d["versions_first_last"] = [self.series[0][0], self.series[-1][0]]
            d["manifest_bytes_first_last"] = [self.series[0][1], self.series[-1][1]]
        return d

    def _row_bytes(self) -> float:
        """Logical bytes of one row: 8 (id) + 4 (k) + 8 (v) + len(s)."""
        if not self.model:
            return 0.0
        return 20 + statistics.mean(len(r[2]) for r in self.model.values())


# ---- curation_dedup ----------------------------------------------------------

_CURATION_ROWS = ("dedup_clusters", "dedup_minhash_pairs", "dedup_simhash_pairs",
                  "ann_ivfpq_residual_topk")


class CurationDedup(Workload):
    """The near-duplicate and ANN rows over a seeded corpus staged as its
    own table directory. One op is one curation pass: all four rows, in a
    seeded order, each fully collected."""

    name = "curation_dedup"
    DOCS = 200
    DUP_FRAC = 0.2
    VECS = 200
    WARM_PASSES = 2

    def stage(self, ctx, directory):
        data.write_tables({
            "documents": data.documents(ctx.seed, ctx.n(self.DOCS, 40), self.DUP_FRAC),
            "embeddings": data.embeddings(ctx.seed + 1, ctx.n(self.VECS, 60)),
        }, directory)

    def prepare(self, ctx):
        self.rng = np.random.default_rng([ctx.seed, 3])
        duck = Duck()
        duck.attach_dir(ctx.stage_dir)
        self.expected = {k: duck.rows(ctx.engine.oracle(k)) for k in _CURATION_ROWS}
        duck.close()
        self.row_seconds: list[float] = []
        self.out_rows: dict[str, int] = {}

    def _pass(self, ctx) -> dict[str, list]:
        out = {}
        for kind in self.rng.permutation(_CURATION_ROWS):
            kind = str(kind)
            t0 = time.perf_counter()
            out[kind] = build_and_collect(ctx, lambda: ctx.engine.run(kind), row=kind)
            self.row_seconds.append(time.perf_counter() - t0)
        return out

    def warm(self, ctx):
        for _ in range(self.WARM_PASSES):
            self._pass(ctx)
        self.row_seconds.clear()

    def op(self, ctx, i):
        def check(out):
            for kind, rows in out.items():
                self.out_rows[kind] = len(rows)
                got, want = canon(rows), self.expected[kind]
                if got != want:
                    return f"{kind}: {len(got)} rows differ from DuckDB's {len(want)}"
            return None

        return Op("curation_pass", lambda: self._pass(ctx), check)

    def instrument(self, ctx):
        super().instrument(ctx)
        from bookstore_aws_lakehouse_spark.operators import dedup

        ctx.tracer.wrap(dedup, "connected_components", "dedup.connected_components", "dedup")

    def layers(self, ctx, recs):
        from bookstore_aws_lakehouse_spark.instrumentation import GROWTH_CANDIDATE_COUNTERS

        out = generic_layers(ctx, recs)
        t = ctx.tracer
        cc = [s for s in t.spans if s.name == "dedup.connected_components"]
        out["dedup.cc_jobs"] = sum(len(x.jobs) for s in cc for x in t.subtree(s)) / max(1, len(cc))
        pair_rows = ("dedup_minhash_pairs", "dedup_simhash_pairs")
        cand = sum(GROWTH_CANDIDATE_COUNTERS[k](ctx.spark, ctx.stage_dir) for k in pair_rows)
        verified = sum(self.out_rows.get(k, 0) for k in pair_rows)
        out["dedup.candidate_pairs"] = cand
        out["dedup.verified_pairs"] = verified
        out["dedup.useful_frac"] = verified / cand if cand else 0.0
        ann = [s for s in t.spans if s.name == "build" and s.attrs.get("row") == "ann_ivfpq_residual_topk"]
        out["similarity.build_py4j_calls"] = sum(s.py4j for s in ann) / len(ann) if ann else 0.0
        return out

    def detail(self, recs):
        lat = [r.seconds for r in recs]
        return {"job_p50_s": statistics.median(lat), "job_samples": len(lat),
                "row_p50_s": statistics.median(self.row_seconds)}


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (BiDashboard, NightlyEtl, LakehouseCommits, CurationDedup)
}
