"""One benchmark run, in a fresh process started by ``run.py``.

Usage: python3 worker.py CONFIG_JSON   (run.py writes the config)

The process times its own set-up (imports, ``get_spark``, registry
import, warm-up) from the moment ``run.py`` launched it, then runs whole
passes over the workload's fixed operation list until the run's seconds
are used. It checks every output outside the timed region and writes
one JSON result file.

In a traced run every pass is traced: spans are recorded around each
call into the package, and the Spark jobs and stages of each operation
are read back from the status store after it returns. The per-layer
metrics come from the first pass, like the end-to-end ones; the time
spent reading the status store is the tracing overhead, and it counts
in the traced pass time.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import statistics
import sys
import time
import traceback

from sparkstats import StatusStore, covered_seconds

now = time.time

# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory until the run ends. Each span has a name,
    start, end (epoch seconds), parent span and operation id."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.op_id = ""

    def add(self, name: str, start: float, end: float | None,
            parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "op": self.op_id,
                           "name": name, "start": start, "end": end,
                           "parent": parent})
        return len(self.spans) - 1

    def begin(self, name: str) -> int:
        sid = self.add(name, now(), None, self._open[-1] if self._open else None)
        self._open.append(sid)
        return sid

    def end(self, sid: int, at: float | None = None) -> None:
        self.spans[sid]["end"] = now() if at is None else at
        while self._open and self._open.pop() != sid:
            pass


class Layers:
    """Per-operation layer totals, filled by ``timed`` calls."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.seconds: dict[str, float] = {}

    def timed(self, layer: str, fn, *args, **kwargs):
        span = layer.removesuffix("_s").removesuffix(".s")
        sid = self.tracer.begin(span) if self.tracer.enabled else None
        t0 = now()
        try:
            return fn(*args, **kwargs)
        finally:
            self.seconds[layer] = self.seconds.get(layer, 0.0) + now() - t0
            if sid is not None:
                self.tracer.end(sid)


# ---------------------------------------------------------------------------
# Workload runners: one operation = one query, or one ETL batch
# ---------------------------------------------------------------------------


class QueryRunner:
    """Registered queries, run the way ``bench.py`` times them."""

    def __init__(self, spark, registry, cfg: dict):
        self.spark = spark
        self.registry = registry
        self.data_dir = cfg["data_dir"]
        self.oracle_dir = cfg["oracle_dir"]
        self.names = cfg["queries"]
        self.first: dict[str, tuple[list[str], list[tuple], int]] = {}
        self.mismatch: dict[str, str] = {}

    def pass_ops(self) -> list[str]:
        return list(self.names)

    @staticmethod
    def csv_bytes() -> tuple[int, int]:
        return 0, 0

    def run(self, name: str, layers: Layers):
        fn = self.registry[name].fn
        df = layers.timed("plans.build_s", fn, self.spark, self.data_dir)
        qe = df._jdf.queryExecution()
        plan = layers.timed("catalyst.s", qe.executedPlan)
        n = layers.timed("exec.s", lambda: plan.execute().count())
        return df, int(n)

    @staticmethod
    def catalyst_phases(result) -> dict[str, float]:
        """Analysis, optimization and planning time of the query's own
        QueryExecution, from its phase tracker."""
        phases = result[0]._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            ms = opt.get().durationMs() if opt.isDefined() else 0
            out[f"catalyst.{phase}_s"] = ms / 1e3
        return out

    def record(self, name: str, result) -> None:
        """Keep the first output of each query for the oracle check;
        later runs of the same query must return as many rows."""
        df, n = result
        if name not in self.first:
            rows = [tuple(r) for r in df.collect()]
            self.first[name] = (list(df.columns), rows, n)
            if len(rows) != n:
                self.mismatch[name] = f"collect gave {len(rows)} rows, execute {n}"
        elif n != self.first[name][2]:
            self.mismatch.setdefault(
                name, f"row count {n} != first run's {self.first[name][2]}"
            )

    def check(self, root: str) -> dict[str, str]:
        """Compare each query's first output with its DuckDB oracle
        (tools/verify_local.py's multiset comparison)."""
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "verify_local", os.path.join(root, "tools", "verify_local.py")
        )
        vl = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(vl)
        from ucl_data_pipeline_spark.plans import oracle_sqls

        oracles = oracle_sqls()
        bad = dict(self.mismatch)
        for name, (cols, rows, _) in self.first.items():
            if name in bad:
                continue
            sql = oracles.get(name)
            if sql is None:  # no oracle (kmeans_clusters): row count only
                continue
            dcols, drows = self.oracle(sql)
            if sorted(cols) != sorted(dcols):
                bad[name] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
            elif vl._multiset(rows, cols, True) != vl._multiset(drows, dcols, True):
                bad[name] = f"values differ from oracle ({len(rows)} vs {len(drows)} rows)"
        return bad

    def oracle(self, sql: str) -> tuple[list[str], list[tuple]]:
        """The oracle's columns and rows on this run's inputs. The seed
        only orders the rows of one fixed data set, so the result is
        kept per data set (``oracle_dir``), SQL text and DuckDB version,
        and computed once for all seeds."""
        import duckdb

        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.oracle_dir, key[:24] + ".pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = duckdb.connect()
        for entry in sorted(os.listdir(self.data_dir)):
            if entry.endswith(".parquet"):
                p = os.path.join(self.data_dir, entry)
                src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
                con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM '{src}'")
        cur = con.execute(sql)
        result = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        os.makedirs(self.oracle_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(result, f)
        os.replace(path + ".tmp", path)
        return result


class EtlRunner:
    """The reference daily batch through the same public calls as
    ``python -m ucl_data_pipeline_spark pipeline``."""

    SIDES = ("team_name_map", "stadiums", "ref_baselines", "injuries",
             "lineups", "xg_metrics_hybrid", "teams_master")

    def __init__(self, spark, cfg: dict):
        from ucl_data_pipeline_spark import schemas
        from ucl_data_pipeline_spark.operators import pipeline, validate
        from ucl_data_pipeline_spark.sources import io

        self.spark, self.schemas, self.pipeline = spark, schemas, pipeline
        self.validate, self.io = validate, io
        self.data_dir = cfg["data_dir"]
        self.out_dir = cfg["out_dir"]
        self.expect_rows = {"HIST_matches": cfg["n_matches"],
                            "UPCOMING_fixtures": cfg["n_fixtures"]}
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in os.listdir(self.data_dir) if f.endswith(".csv")
        )
        self.required = {"HIST_matches": schemas.HIST_MATCHES,
                         "UPCOMING_fixtures": schemas.UPCOMING_FIXTURES}
        self.batches = 0
        self.bad: dict[str, str] = {}

    @staticmethod
    def catalyst_phases(result) -> dict[str, float]:
        # the batch's plans are built inside write and count calls,
        # whose QueryExecutions the public API does not hand back
        return {}

    def pass_ops(self) -> list[str]:
        self.batches += 1
        return [f"batch{self.batches}"]

    def run(self, name: str, layers: Layers):
        io, pl, sc = self.io, self.pipeline, self.schemas
        dd = self.data_dir

        def side(t):
            return layers.timed("io.read_csv_s", io.safe_read_csv, self.spark,
                                os.path.join(dd, f"{t}.csv"),
                                sc.REFERENCE_SCHEMAS[t])

        matches = layers.timed("io.read_csv_s", io.read_csv, self.spark,
                               os.path.join(dd, "raw_football_data.csv"))
        fixtures = layers.timed("io.read_csv_s", io.safe_read_csv, self.spark,
                                os.path.join(dd, "raw_theodds_fixtures.csv"),
                                sc.RAW_FIXTURES)
        dims = {t: side(t) for t in self.SIDES}
        teams = dims["teams_master"]
        if teams.isEmpty() and not dims["xg_metrics_hybrid"].isEmpty():
            teams = pl.bootstrap_team_priors(dims["xg_metrics_hybrid"])
        outputs = {}
        for fact, builder, out_name in (
            (matches, pl.build_hist, "HIST_matches"),
            (fixtures, pl.build_upcoming, "UPCOMING_fixtures"),
        ):
            final = layers.timed(
                "operators.enrich_s",
                lambda f=fact, b=builder: b(pl.enrich_matches(
                    f, dims["team_name_map"], teams, dims["stadiums"],
                    dims["ref_baselines"], dims["injuries"], dims["lineups"],
                    dims["xg_metrics_hybrid"])),
            )
            layers.timed("io.write_csv_s", io.write_csv, final,
                         os.path.join(self.out_dir, out_name))
            outputs[out_name] = final
        reports = layers.timed("operators.validate_s",
                               self.validate.validation_report, outputs,
                               self.required)
        return outputs, reports

    def record(self, name: str, result) -> None:
        """Row counts, schema and required columns of one batch."""
        outputs, reports = result
        for out, df in outputs.items():
            rep = reports[out]
            want = [(f.name, f.dataType) for f in self.required[out].fields]
            got = [(f.name, f.dataType) for f in df.schema.fields]
            if rep.n_rows != self.expect_rows[out]:
                self.bad[name] = f"{out}: {rep.n_rows} rows out, {self.expect_rows[out]} in"
            elif got != want:
                self.bad[name] = f"{out}: schema {got} != {want}"
            elif rep.missing_columns:
                self.bad[name] = f"{out}: missing {rep.missing_columns}"

    def csv_bytes(self) -> tuple[int, int]:
        """CSV bytes on disk: one batch's inputs, and its outputs."""
        out = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out_dir)
            for f in files if f.endswith(".csv")
        )
        return self.input_bytes, out

    def check(self, root: str) -> dict[str, str]:
        """The last batch's files hold every input row."""
        import duckdb

        bad = dict(self.bad)
        last = f"batch{self.batches}"
        con = duckdb.connect()
        for out, n in self.expect_rows.items():
            glob = os.path.join(self.out_dir, out, "*.csv")
            got = con.execute(
                f"SELECT count(*) FROM read_csv('{glob}', header=true)"
            ).fetchone()[0]
            if got != n:
                bad.setdefault(last, f"{out}: {got} rows written, {n} expected")
        con.close()
        return bad


# ---------------------------------------------------------------------------
# One operation, one pass
# ---------------------------------------------------------------------------


def _op_layers(tracer: Tracer, store: StatusStore, group: str, op_sid: int,
               op_start: float, op_end: float) -> dict[str, float]:
    """Jobs and stages of one operation, as spans and layer counts."""
    store.drain()
    jobs = store.jobs(group)
    stage_ids = {s for j in jobs for s in j.stage_ids}
    stages = {s.stage_id: s for s in store.stages(stage_ids)}
    op_spans = [s for s in tracer.spans if s["op"] == tracer.op_id]

    def parent_of(t: float) -> int:
        inner = [s for s in op_spans if s["id"] != op_sid
                 and s["start"] <= t <= (s["end"] or op_end)]
        return max(inner, key=lambda s: s["start"])["id"] if inner else op_sid

    build = [s for s in op_spans if s["name"] == "plans.build"]
    build_jobs = 0
    seen: set[int] = set()
    for j in jobs:
        start = j.start or op_start
        parent = parent_of(start)
        build_jobs += any(s["id"] == parent for s in build)
        jid = tracer.add(f"job {j.job_id}", start, j.end or op_end, parent)
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is not None and st.ran and sid not in seen:
                seen.add(sid)
                tracer.add(f"stage {sid}", st.start, st.end or op_end, jid)
    ran = [s for s in stages.values() if s.ran]
    multi = [s for s in ran if s.tasks > 1 and s.run_s > 0]
    busy = covered_seconds(
        [(s.start, s.end or op_end) for s in ran if s.start is not None],
        op_start, op_end,
    )
    return {
        "plans.build_jobs": build_jobs,
        "exec.jobs": len(jobs),
        "exec.stages": len(ran),
        "exec.tasks": sum(s.tasks for s in ran),
        "exec.single_task_stages": sum(s.tasks == 1 for s in ran),
        "exec.driver_gap_s": (op_end - op_start) - busy,
        "exec.executor_run_s": sum(s.run_s for s in ran),
        "exec.executor_cpu_s": sum(s.cpu_s for s in ran),
        "exec.gc_s": sum(s.gc_s for s in ran),
        "exec.max_task_share": max(
            (s.max_task_run_s / s.run_s for s in multi), default=0.0),
        "exec.failed_tasks": sum(s.failed_tasks for s in ran),
        "shuffle.write_bytes": sum(s.shuffle_write_bytes for s in ran),
        "shuffle.read_bytes": sum(s.shuffle_read_bytes for s in ran),
        "shuffle.spill_bytes": sum(s.spill_bytes for s in ran),
        "io.scan_bytes": sum(s.input_bytes for s in ran),
        "io.scan_rows": sum(s.input_rows for s in ran),
    }


def run_pass(spark, runner, store: StatusStore, tracer: Tracer, traced: bool,
             pass_no: int) -> dict:
    """One pass over the operation list. An operation's time ends when
    its last call into the package returns; output bookkeeping and
    cache hygiene after it are not timed. In a traced pass the status
    store reads count as pass time, so that they show as overhead."""
    tracer.enabled = traced
    ops = []
    for i, name in enumerate(runner.pass_ops()):
        group = f"p{pass_no}.{i}"
        tracer.op_id = f"{group}:{name}"
        layers = Layers(tracer)
        if traced:
            store.tag(group)
            op_sid = tracer.begin("op")
        t0 = now()
        result = error = None
        try:
            result = runner.run(name, layers)
        except Exception:  # a failed operation is counted, not fatal
            error = traceback.format_exc(limit=4)
        t1 = now()
        rec = {"name": name, "wall_s": t1 - t0, "error": error, "trace_s": 0.0}
        if traced:
            tracer.end(op_sid, at=t1)
            rec["layers"] = dict(layers.seconds)
            rec["layers"].update(_op_layers(tracer, store, group, op_sid, t0, t1))
            if result is not None:
                rec["layers"].update(runner.catalyst_phases(result))
            rec["trace_s"] = now() - t1
        rec["persist_left"] = store.persisted_rdds()
        spark.sparkContext.setJobGroup("check", "check")
        if result is not None:
            try:
                runner.record(name, result)
            except Exception:
                rec["error"] = traceback.format_exc(limit=4)
        spark.catalog.clearCache()
        store.unpersist_all()
        ops.append(rec)
    return {
        "traced": traced,
        "wall_s": sum(o["wall_s"] + o["trace_s"] for o in ops),
        "ops": ops,
    }


# ---------------------------------------------------------------------------
# Set-up and metrics
# ---------------------------------------------------------------------------


def warm_up(spark, data_dir: str) -> None:
    """Fixed work that fills codegen and JIT caches: a scan of the
    workload's own input format, a shuffle join, an aggregate and a
    window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    files = sorted(os.listdir(data_dir))
    if any(f.endswith(".csv") for f in files):
        spark.read.option("header", "true").csv(
            os.path.join(data_dir, "ref_baselines.csv")).collect()
    else:
        spark.read.parquet(os.path.join(data_dir, "nation.parquet")).collect()
    a = spark.range(0, 200_000).withColumn("k", F.col("id") % 97)
    b = spark.range(0, 97).withColumnRenamed("id", "k")
    a.join(b, "k").groupBy("k").agg(F.sum("id")).collect()
    w = Window.partitionBy("k").orderBy(F.col("id").desc())
    a.withColumn("r", F.row_number().over(w)).filter("r <= 2").collect()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than twenty samples no percentile at or above the median has
    ten beyond it, so the maximum is reported and labelled as such."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], f"max of {n}"
    k = n - 11  # ten samples lie above xs[k]
    return xs[k], f"p{math.floor(100 * (k + 1) / n)} of {n}"


LAYER_SUMS = (
    "plans.build_s", "plans.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.single_task_stages", "exec.driver_gap_s", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.gc_s", "exec.failed_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "io.scan_bytes", "io.scan_rows", "io.read_csv_s", "io.write_csv_s",
    "operators.enrich_s", "operators.validate_s",
)


def layer_metrics(p: dict, cores: int, csv_in: int, csv_out: int) -> dict[str, float]:
    """Layer totals of one traced pass."""
    ops = p["ops"]
    m = {k: sum(o["layers"].get(k, 0.0) for o in ops) for k in LAYER_SUMS}
    m["plans.persist_left"] = sum(o["persist_left"] for o in ops)
    m["exec.max_task_share"] = max(
        o["layers"].get("exec.max_task_share", 0.0) for o in ops)
    m["exec.core_util"] = m["exec.executor_run_s"] / (
        sum(o["wall_s"] for o in ops) * cores)
    m["io.csv_scan_amplification"] = m["io.scan_bytes"] / csv_in if csv_in else 0.0
    m["io.bytes_written_per_input_byte"] = csv_out / csv_in if csv_in else 0.0
    return m


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    launched = float(os.environ["PERFBENCH_LAUNCH"])
    setup = {}
    t = now()
    from ucl_data_pipeline_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup["session.get_spark_s"] = now() - t
    store = StatusStore(spark)
    t = now()
    if cfg["workload"] == "reference_etl":
        runner = EtlRunner(spark, cfg)
        setup["plans.import_s"] = 0.0
    else:
        from ucl_data_pipeline_spark.plans import REGISTRY

        runner = QueryRunner(spark, REGISTRY, cfg)
        setup["plans.import_s"] = now() - t
    t = now()
    warm_up(spark, cfg["data_dir"])
    setup["setup.warmup_s"] = now() - t
    setup_s = now() - launched

    # Whole passes until the run's seconds are used. The first pass is
    # the cold one a user of a fresh session sees; at the declared run
    # length it is the only one.
    tracer = Tracer()
    passes: list[dict] = []
    t_run = now()
    while not passes or now() - t_run < cfg["seconds"]:
        passes.append(run_pass(spark, runner, store, tracer, bool(cfg["trace"]),
                               len(passes)))
    peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(store.jvm_pid())
    csv_in, csv_out = runner.csv_bytes()
    spark.stop()
    bad = runner.check(cfg["root"])

    all_ops = [o for p in passes for o in p["ops"]]
    errors = {o["name"]: o["error"] for o in all_ops if o["error"]}
    result = {
        "attempted": len(all_ops),
        "failed": sum(o["name"] in bad or bool(o["error"]) for o in all_ops),
        "problems": {**bad, **errors},
        "passes": [(p["traced"], p["wall_s"]) for p in passes],
    }
    if cfg["trace"]:
        first = passes[0]
        layers = dict(setup)
        layers.update(layer_metrics(first, cfg["cores"], csv_in, csv_out))
        layers["trace.pass_s"] = first["wall_s"]
        layers["trace.overhead_s"] = sum(o["trace_s"] for o in first["ops"])
        result["layers"] = layers
        with open(cfg["trace_path"], "w") as f:
            json.dump({"workload": cfg["workload"], "seed": cfg["seed"],
                       "spans": tracer.spans}, f)
    else:
        lat = [o["wall_s"] for o in all_ops]
        tail_s, tail_label = tail(lat)
        result["e2e"] = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": peak_rss,
        }
        result["tail_label"] = tail_label
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
