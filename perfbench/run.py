"""Repository benchmark: the daily ETL flow and the operator query mix.

Usage (from the repository root)::

    python3 perfbench/run.py --workload wide_backfill --seed 1 --seconds 10 --trace 0

One process, one ``local[4]`` Spark session, one closed-loop client: the
next op starts when the last one has finished and been checked.

Workloads (sizes are the constants below):

- ``wide_backfill``: one op reads the seeded two-level-header CSVs
  through ``sources.wide_csv.read_wide_price_csv`` and runs
  ``pipeline.etl_flow`` into a fresh, empty lake. Width drives the
  driver-side planning of the wide frame; the lake side stays small and
  only takes the overwrite path.
- ``query_mix``: one op builds one registry query and collects its
  result, 22 queries per pass in the fixed order of ``QUERY_MIX``,
  whole passes only. The pipeline layers do no work here. The order is
  fixed because one pass fits in a run: with a seeded order, which
  queries ran first (and paid for code the later ones reuse) moved the
  op median between seeds.

Correctness, checked after every op and outside its timing: pipeline
ops must pass the flow's own check suite and match the pandas twin in
``gen_prices.py`` (row counts and value digests of ``fct_prices`` and
``dim_symbols``); every query op's result must equal its DuckDB
oracle's under the comparison rules of ``tools/check_oracle.py`` (the
oracle runs once per query per run).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with spans around each layer (see ``spans.py``) and prints the
per-layer metrics, per op for the pipeline workloads and per pass for
the query mix. Everything the run writes lives under ``perfbench/.work/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WIDE_TICKERS, WIDE_DAYS = 100, 20
QUERY_SF = 0.002
SETUP_REPEATS = 3
MASTER = "local[4]"

QUERY_MIX = (
    "q1_pricing_summary", "q3_top_revenue_orders", "q21_waiting_suppliers", "w2_moving_avg",
    "w11_peak_concurrency", "sec_stg_ffill", "sec_rolling_beta", "dedup_minhash_pairs",
    "dedup_components_rcte", "sim_kmeans_train", "sim_ivf_retrain_recall", "sim_knn_graph",
    "t_bpe_train", "t_pmi_cooccurrence", "t_idf_top_terms", "t_curation_funnel",
    "dedup_semdedup_capped", "s_stream_join_attrib", "s_stream_t_closeness", "s_stream_daily_rollup",
    "j_asof_latest_order", "mm_feature_knn",
)  # fmt: skip
WARM_QUERIES = ("q1_pricing_summary", "mm_feature_knn", "s_stream_daily_rollup")
QUERY_MODULES = (
    "plans.relational", "plans.relational_tpch3", "plans.analytics", "plans.securities_demo",
    "operators.dedup", "operators.similarity", "operators.textops", "operators.curation",
    "operators.asof", "operators.multimodal", "streaming.ingest",
)  # fmt: skip
PIPELINE_LAYERS = ("sources.wide_csv", "functions.cleaning", "load", "plans.models", "checks", "pipeline")
PIPELINE_CALLS = {
    "functions.cleaning": ("transform_fx_symbols", "transform_stock_symbols", "transform_prices"),
    "load": ("load_fx_symbols", "load_stock_symbols", "load_prices"),
    "plans.models": ("build_star_schema", "register_views"),
    "checks": ("check_unique", "check_not_null", "check_accepted_values", "check_relationships", "run_checks"),
}


# ---------------------------------------------------------------------------
# process probes


def _clk_tck() -> int:
    return os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _clk_tck()  # utime + stime


def process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / _clk_tck()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# pipeline workloads


class WideBackfill:
    """One op: read the wide CSVs and run ``etl_flow`` into an empty lake."""

    size = f"{WIDE_TICKERS} tickers + 7 FX pairs x {WIDE_DAYS} days"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.lake = os.path.join(work, "lake")
        self.ops = 0

    def prepare(self, out: str) -> None:
        import gen_prices as prices

        universe = prices.Universe(self.seed, WIDE_TICKERS, WIDE_DAYS)
        self.inputs = prices.write_fetch(universe, os.path.join(out, "fetch"))
        self.scrape_path = prices.write_scrape(universe, os.path.join(out, "scrape.parquet"))
        self.expected = prices.expected_outputs(universe)
        self.days = universe.days

    def warm(self) -> None:
        """None: the daily flow runs once per fresh process, so its
        first, cold ``etl_flow`` is the cost being measured."""

    def next_op(self) -> str:
        self.ops += 1
        return f"etl_flow#{self.ops}"

    def round_done(self) -> bool:
        return True

    def op(self, name: str):
        from securities_data_pipeline_spark import pipeline
        from securities_data_pipeline_spark.sources import wide_csv

        import gen_prices as prices

        shutil.rmtree(self.lake, ignore_errors=True)
        t0 = time.time()
        stock = wide_csv.read_wide_price_csv(self.spark, self.inputs["sp_stocks"])
        fx = wide_csv.read_wide_price_csv(self.spark, self.inputs["fx"])
        kwargs = dict(
            raw_fx_prices_wide=fx,
            raw_stock_prices_wide=stock,
            raw_stock_symbols=self.spark.read.parquet(self.scrape_path),
            date_stamp=prices.BOOTSTRAP_STAMP,
        )
        if self.tracer is None:
            result = pipeline.etl_flow(self.spark, self.lake, **kwargs)
        else:
            with self.tracer.span("pipeline", "etl_flow"):
                result = pipeline.etl_flow(self.spark, self.lake, **kwargs)
        return result, time.time() - t0

    def check(self, name: str, result) -> list[str]:
        """The flow's own check suite, then ``fct_prices`` and
        ``dim_symbols`` against the pandas twin."""
        from pyspark.sql import functions as F

        errors = [f"check {c.name}: {c.violations} violations" for c in result.checks if not c.passed]
        fct, dim = result.models["fct_prices"], result.models["dim_symbols"]
        days = F.datediff(F.col("date_stamp"), F.lit("2000-01-01").cast("date")).cast("long")

        def fixed(c):
            return F.round(F.coalesce(F.col(c), F.lit(0.0)) * 1e5).cast("long")

        got = fct.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("close").isNull().cast("long")).alias("null_close"),
            *[F.sum(fixed(c)).alias(f"sum_{c}") for c in ("open", "high", "low", "close")],
            F.sum(days * fixed("close")).alias("sum_day_close"),
            F.sum("volume").alias("sum_volume"),
            F.sort_array(F.collect_set("symbol")).alias("symbols"),
        ).first().asDict()
        got_symbols = got.pop("symbols")
        exp = self.expected
        if got != exp["fct"]:
            errors.append(f"fct_prices digest {got} != expected {exp['fct']}")
        if got_symbols != exp["fct_symbols"]:
            errors.append("fct_prices symbol set differs from expected")
        drow = dim.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sort_array(F.collect_list("symbol")).alias("symbols"),
            F.sum((F.col("sector") == "Missing").cast("long")).alias("missing"),
        ).first()
        if drow["rows"] != exp["dim_rows"] or drow["symbols"] != exp["dim_symbols"]:
            errors.append(f"dim_symbols has {drow['rows']} rows, expected {exp['dim_rows']}")
        if drow["missing"] != exp["dim_missing_sector"]:
            errors.append(f"dim_symbols 'Missing' sectors {drow['missing']} != {exp['dim_missing_sector']}")
        return errors

    def op_stats(self) -> dict:
        """Lake bytes per ``fct_prices`` row, and the on-disk bytes of the
        price partitions the op's batch fills (the base of the rewrite
        ratio)."""
        batch = 0
        for kind in ("fx", "sp_stocks"):
            for day in self.days:
                batch += dir_bytes(os.path.join(self.lake, "price_history", kind, f"date_stamp={day.isoformat()}"))
        return {"lake_bytes_per_row": dir_bytes(self.lake) / self.expected["fct"]["rows"], "batch_bytes": batch}


# ---------------------------------------------------------------------------
# query mix


class QueryMix:
    """One op: build one registry query and collect its result."""

    size = f"22 registry queries per pass at sf {QUERY_SF}"

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from securities_data_pipeline_spark.registry import all_oracles, all_queries

        self.spark, self.seed, self.tracer = spark, seed, tracer
        queries, oracles = all_queries(), all_oracles()
        self.queries = {n: queries[n] for n in QUERY_MIX}
        self.oracles = {n: oracles[n] for n in QUERY_MIX}
        self.order: list[str] = []
        self.oracle: dict[str, tuple] = {}

    def prepare(self, out: str) -> None:
        import gen_tables as tables

        self.sf_dir = tables.write_tables(self.seed, QUERY_SF, os.path.join(out, "sf"))

    def warm(self) -> None:
        """Pay the engine's one-off costs before timing, so they do not
        land on whichever queries the seeded order puts first: JIT of
        the scan/aggregate path, the Python worker start of pandas
        UDFs, the streaming engine, and the first write of the
        admission-gated clean store."""
        from securities_data_pipeline_spark.sources.validated import validated_table

        for name in ("events", "embeddings"):
            validated_table(self.spark, self.sf_dir, name).count()
        for name in WARM_QUERIES:
            self.queries[name](self.spark, self.sf_dir).collect()

    def next_op(self) -> str:
        if not self.order:
            self.order = list(QUERY_MIX)
        return self.order.pop(0)

    def round_done(self) -> bool:
        """Whole passes only, so every query weighs the same in a run."""
        return not self.order

    def op_stats(self) -> dict:
        return {}

    def op(self, name: str):
        fn = self.queries[name]
        layer = fn.__module__.removeprefix("securities_data_pipeline_spark.")
        t0 = time.time()
        if self.tracer is None:
            df = fn(self.spark, self.sf_dir)
            rows = df.collect()
        else:
            with self.tracer.span(layer, f"{name}:build", phase="build"):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.span(layer, f"{name}:action", phase="action"):
                rows = df.collect()
        return (df, rows), time.time() - t0

    def check(self, name: str, out) -> list[str]:
        """The op's full result against the query's DuckDB oracle, by
        the rules of tools/check_oracle.py; the oracle runs once per
        query per run."""
        from tools.check_oracle import canon, type_family

        df, rows = out
        if name not in self.oracle:
            self.oracle[name] = self._run_oracle(name)
        ocols, otypes, ocanon = self.oracle[name]
        scols, stypes = df.columns, dict(df.dtypes)
        if sorted(scols) != sorted(ocols):
            return [f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}"]
        if any(type_family(stypes[c]) != type_family(t) for c, t in zip(ocols, otypes)):
            return [f"{name}: column type families differ from the oracle"]
        if canon([tuple(r) for r in rows], scols) != ocanon:
            return [f"{name}: values differ from the oracle ({len(rows)} vs {len(ocanon)} rows)"]
        return []

    def _run_oracle(self, name: str):
        import duckdb

        from securities_data_pipeline_spark.sources.tables import TABLE_NAMES
        from tools.check_oracle import canon

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            res = con.sql(self.oracles[name])
            ocols, otypes = list(res.columns), [str(t) for t in res.types]
            return ocols, otypes, canon(res.fetchall(), ocols)
        finally:
            con.close()


WORKLOADS = {"wide_backfill": WideBackfill, "query_mix": QueryMix}


# ---------------------------------------------------------------------------
# the run


def start_session(work: str, trace: bool):
    from securities_data_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def instrument(tracer) -> None:
    """Spans around every public call ``etl_flow`` makes, the wide-CSV
    reader, and the lake read-back that feeds the star schema."""
    from pyspark.sql.readwriter import DataFrameReader

    from securities_data_pipeline_spark import pipeline
    from securities_data_pipeline_spark.sources import wide_csv

    tracer.wrap(wide_csv, "read_wide_price_csv", "sources.wide_csv")
    for layer, names in PIPELINE_CALLS.items():
        for name in names:
            tracer.wrap(pipeline, name, layer)
    reader_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        # etl_flow's own read-back of the lake is the models' source scan
        if tracer.current_layer() != "pipeline":
            return reader_parquet(self, *paths, **options)
        with tracer.span("plans.models", "read_lake") as rec:
            df = reader_parquet(self, *paths, **options)
            rec["files_listed"] = len(df.inputFiles())
        return df

    tracer.patch(DataFrameReader, "parquet", parquet)


def phase(proc_start: float, name: str) -> None:
    print(f"# {time.time() - proc_start:7.2f}s {name}", file=sys.stderr, flush=True)


def run(args) -> dict:
    proc_start = process_start_epoch()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "stream-ckpt", "clean-store", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CLEAN_DIR=os.path.join(work, "clean-store"),
        SPARK_GRAFT_STREAM_CKPT=os.path.join(work, "stream-ckpt"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        spark = start_session(work, args.trace)
        session_s = time.time() - proc_start
        phase(proc_start, "session up")
        tracer = None
        if args.trace:
            import spans as trace

            tracer = trace.Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        prep_s = []
        for k in range(SETUP_REPEATS):
            t0 = time.time()
            out = os.path.join(work, f"setup{k}")
            wl.prepare(out)
            prep_s.append(time.time() - t0)
            if k + 1 < SETUP_REPEATS:
                shutil.rmtree(out)
        t0 = time.time()
        wl.warm()
        warm_s = time.time() - t0
        phase(proc_start, "set up")
        if tracer is not None:
            instrument(tracer)
        java_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        result = measure(wl, args, java_pid)
        phase(proc_start, "measured")
        result["setup_s"] = session_s + statistics.median(prep_s) + warm_s
        if tracer is not None:
            tracer.unwrap()
        result["peak_rss_mb"] = vm_hwm_mb(java_pid)
        stop_session(spark)
        spark = None
        phase(proc_start, "session stopped")
        if tracer is not None:
            result["layers"] = layer_metrics(tracer, work, result, args.workload)
            phase(proc_start, "event log parsed")
        return result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def checking(tracer):
    """The output check's own jobs, kept out of every layer."""
    return tracer.span("perfbench", "check") if tracer is not None else contextlib.nullcontext()


def measure(wl, args, java_pid: int) -> dict:
    """The closed loop: ops back to back, each checked after its timing,
    until ``--seconds`` have passed and the round is complete."""
    me = os.getpid()
    walls, cpus, failures, stats = [], [], [], []
    t_start = time.time()
    attempted = 0
    while True:
        name = wl.next_op()
        attempted += 1
        c0 = cpu_seconds(java_pid) + cpu_seconds(me)
        try:
            result, wall = wl.op(name)
        except Exception as ex:  # a failing op is counted and named, and the loop goes on
            traceback.print_exc()
            failures.append((name, [f"{type(ex).__name__}: {ex}"]))
        else:
            cpus.append(cpu_seconds(java_pid) + cpu_seconds(me) - c0)
            walls.append((name, wall))
            with checking(wl.tracer):
                errors = wl.check(name, result)
            if errors:
                failures.append((name, errors))
            stats.append(wl.op_stats())
        if time.time() - t_start >= args.seconds and wl.round_done():
            break
    if not walls:
        raise RuntimeError(f"every op failed: {failures}")
    return {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "walls": [w for _, w in walls],
        "named_walls": walls,
        "cpus": cpus,
        "stats": [x for x in stats if x],
        "passes": attempted / len(QUERY_MIX) if isinstance(wl, QueryMix) else None,
    }


def layer_metrics(tracer, work: str, result: dict, workload: str) -> dict:
    import spans as trace

    jobs = trace.read_event_log(os.path.join(work, "eventlog"))
    first = min(s["start"] for s in tracer.spans)
    jobs = {j: job for j, job in jobs.items() if job["submit"] >= first}  # set-up jobs are not the loop's
    spans = trace.attribute(tracer.spans, jobs)
    print("# spans " + json.dumps(spans), file=sys.stderr)
    per = result["passes"] if workload == "query_mix" else result["attempted"]
    out: dict[str, float] = {}

    def total(layer, key, pred=lambda s: True):
        return sum(s[key] for s in spans if s["layer"] == layer and pred(s)) / per

    for layer in PIPELINE_LAYERS:
        out[f"{layer}.wall_s"] = total(layer, "self")
        out[f"{layer}.jobs"] = total(layer, "jobs")
        out[f"{layer}.tasks"] = total(layer, "tasks")
        out[f"{layer}.task_cpu_s"] = total(layer, "cpu_s")
        out[f"{layer}.driver_s"] = total(layer, "driver")
        out[f"{layer}.shuffle_bytes"] = total(layer, "shuffle")
        out[f"{layer}.spill_bytes"] = total(layer, "spill")
    out["load.files_written"] = total("load", "files")
    out["load.bytes_written"] = total("load", "out_bytes")
    batch = sum(e["batch_bytes"] for e in result["stats"])
    out["load.rewrite_ratio"] = out["load.bytes_written"] * per / batch if batch else 0.0
    out["load.lake_bytes_per_row"] = (
        statistics.median(e["lake_bytes_per_row"] for e in result["stats"]) if result["stats"] else 0.0
    )
    out["plans.models.files_listed"] = sum(s.get("files_listed", 0) for s in spans) / per
    for module in QUERY_MODULES:
        out[f"{module}.build_s"] = total(module, "wall", lambda s: s.get("phase") == "build")
        out[f"{module}.action_s"] = total(module, "wall", lambda s: s.get("phase") == "action")
        out[f"{module}.jobs"] = total(module, "jobs")
        out[f"{module}.task_cpu_s"] = total(module, "cpu_s")
        out[f"{module}.driver_s"] = total(module, "driver")
        out[f"{module}.shuffle_bytes"] = total(module, "shuffle")
    out["op.traced_p50_s"] = statistics.median(result["walls"])
    out["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    out["trace.jobs"] = len(jobs)
    out["trace.jobs_by_submit_time"] = sum(s["by_time"] for s in spans)
    out["trace.jobs_unattributed"] = len(jobs) - sum(s["jobs"] for s in spans)
    return out


E2E_UNITS = {"op_p50_s": "s", "op_cpu_s": "s", "setup_s": "s"}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]

    res = run(args)
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in res["layers"].items()}
        if args.workload != "query_mix":
            print("note: transform_prices is lazy; its unpivot runs inside load_prices and is counted there")
    else:
        metrics = {
            "op_p50_s": statistics.median(res["walls"]),
            "op_cpu_s": statistics.median(res["cpus"]),
            "setup_s": res["setup_s"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(
        f"workload {args.workload} ({WORKLOADS[args.workload].size}): "
        f"{len(res['walls'])} timed ops: " + ", ".join(f"{n} {w:.3f}s" for n, w in res["named_walls"])
    )
    for name, errors in res["failures"]:
        print(f"failed op {name}: {errors[0][:300]}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix == "lake_bytes_per_row":
        return "bytes/row"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith("_s"):
        return "s"
    if "bytes" in suffix:
        return "bytes"
    if suffix == "rewrite_ratio":
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
