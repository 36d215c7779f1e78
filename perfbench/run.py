"""Closed-loop benchmark of the engine: one client, ops one at a time.

    python3 perfbench/run.py --workload marts|corpus|lake|all --seed N \
        --seconds S --trace 0|1

Each run starts a session, generates its inputs from ``--seed``, runs one
cold pass over the workload's ops (it also checks every op that has a
registry oracle against DuckDB; it is set-up), then repeats timed passes
until ``--seconds`` have been spent. Every end-to-end metric derives from
per-op medians across the timed passes. With ``--trace 1`` the timed passes
alternate untraced and traced, the run probes the operator modules directly,
and the per-layer metrics are printed instead. The last stdout line is the
JSON result. perfbench/README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Timed passes in a run, however short --seconds is. Each op's median over
# three passes drops one slow pass (the first warm pass in a fresh JVM is
# still 10-30% slow while Spark's query-planning code is JIT-compiled, and the
# host's speed swings); a lake pass costs 10-12 s, so lake times two to keep
# a run near a minute.
MIN_PASSES = {"marts": 3, "corpus": 3, "lake": 2}

# rows per table: customer, supplier, part, orders, events, documents, embeddings
SIZES = {
    "marts": (1500, 100, 2000, 15000, 10000, 200, 200),
    "corpus": (150, 10, 200, 1500, 1000, 500, 500),
    "lake": (500, 50, 500, 5000, 4000, 500, 200),
}
LAKE_ORDERS = 5000
# Spark's local dirs may grow by this much between the first and the last
# timed pass before the run counts as leaking: a pass's own shuffle and
# persisted blocks are a few MB at these input sizes
LOCAL_GROWTH_LIMIT_MB = 64

WORKLOADS = ("marts", "corpus", "lake")
MARTS = [
    "pricing_summary", "daily_sales", "customer_metrics", "nation_revenue", "top_parts_per_brand",
    "olist_daily_sales", "olist_customer_metrics", "olist_product_performance",
    "olist_seller_performance", "olist_satisfaction_metrics", "olist_delivery_performance",
    "basket_pairs", "rfm_segments", "cohort_retention", "funnel_conversion", "profile_orders",
    "asof_events_orders", "range_join_view_purchase", "session_window_stats",
    "daily_revenue_anomaly", "event_type_drift",
]
CORPUS = [
    "dedup_minhash_docs", "dedup_simhash_docs", "similarity_topk_ivf", "text_pii_redact",
    "multimodal_features",
]

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_max_s": "s"}
LAYER_UNITS = {
    "mem.peak_rss_mb": "MB", "session.start_s": "s", "session.cold_pass_s": "s", "plans.build_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.exchanges": "count", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.python_nodes": "count",
    "reuse.persisted_rdds_after_op": "count", "reuse.cached_mb_after_op": "MB",
    "operators.dedup.s": "s", "operators.similarity.s": "s", "functions.text.s": "s",
    "operators.joins.s": "s", "sources.load_s": "s", "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s", "pipeline.gold_s": "s", "validation.validate_gold_s": "s",
    "streaming.ingest_s": "s", "streaming.upsert_s": "s",
    "sources.bytes_written_per_input_byte": "ratio", "sources.files_written": "count",
    "residue.local_dirs_growth_mb": "MB", "trace.overhead_s": "s",
}
# lake op → the per-layer metric its time feeds
LAKE_LAYER = {
    "bronze_ingest": "pipeline.bronze_s", "silver_refine": "pipeline.silver_s",
    "gold_build": "pipeline.gold_s", "validate_gold": "validation.validate_gold_s",
    "incremental_dedup_ingest": "streaming.ingest_s",
}


class Op:
    """One user-visible operation. ``build`` returns a DataFrame, which the
    harness forces with a noop write, or None when the call did its own work.
    ``kind`` names the call's span: ``build`` (a registry builder), ``stage``
    (a pipeline stage) or ``runner`` (a streaming runner)."""

    def __init__(self, name, build, oracle=None, kind="build"):
        self.name, self.build, self.oracle, self.kind = name, build, oracle, kind


class Bench:
    def __init__(self, args, work: str):
        from tracing import Tracer

        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.local_dirs = os.path.join(work, "spark-local")
        self.star = os.path.join(work, "star")
        self.csv = os.path.join(work, "csv")
        self.pass_dir = self.star  # the star the ops read; lake copies it per pass
        self.pass_root = work
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}", bool(args.trace))
        self.failures: list[str] = []
        self.attempted = 0
        self.rows: dict[str, set[int]] = {}
        self.residue: list[tuple[int, float]] = []
        self.local_usage: list[int] = []
        self.cleanups: list = []
        self.summary: dict = {}

    # -- inputs ----------------------------------------------------------
    def generate(self) -> float:
        """Generate the inputs three times from the seed and keep the first
        copy; the copies must be byte-identical. Returns the median time."""
        import filecmp

        import gen

        sizes = dict(zip(
            ("customer", "supplier", "part", "orders", "events", "documents", "embeddings"),
            SIZES[self.args.workload],
        ))
        times, dirs = [], [os.path.join(self.work, f"gen{i}") for i in range(3)]
        for d in dirs:
            t0 = time.perf_counter()
            gen.write_star(os.path.join(d, "star"), self.args.seed, sizes)
            if self.args.workload == "lake":
                self.input_bytes = gen.write_olist_csvs(os.path.join(d, "csv"), self.args.seed, LAKE_ORDERS)
            times.append(time.perf_counter() - t0)
        for sub in os.listdir(dirs[0]):
            names = sorted(os.listdir(os.path.join(dirs[0], sub)))
            for d in dirs[1:]:
                _, bad, err = filecmp.cmpfiles(
                    os.path.join(dirs[0], sub), os.path.join(d, sub), names, shallow=False)
                if bad or err:
                    self.failures.append(f"generator: seed {self.args.seed} gave different bytes: {bad + err}")
            os.replace(os.path.join(dirs[0], sub), os.path.join(self.work, sub))
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        return statistics.median(times)

    # -- workloads -------------------------------------------------------
    def ops(self) -> list[Op]:
        from etl_ecommerce_data_spark.plans.queries import QUERIES

        def query(n):
            return Op(n, lambda: QUERIES[n].builder(self.spark, self.pass_dir), QUERIES[n].oracle)

        if self.args.workload == "marts":
            return [query(n) for n in MARTS]
        if self.args.workload == "corpus":
            return [query(n) for n in CORPUS]
        from etl_ecommerce_data_spark import pipeline
        from etl_ecommerce_data_spark.streaming import events as streaming

        def lake():
            return os.path.join(self.pass_root, "lake")

        def stage(fn, *dirs):
            def run():
                fn(self.spark, *(d() for d in dirs))
            return run

        def ingest():
            handle = streaming.run_incremental_dedup_ingest(self.spark, self.pass_dir, as_handle=True)
            self.cleanups.append(handle.release)
            return handle.df

        return [
            Op("bronze_ingest", stage(pipeline.bronze_ingest, lambda: os.path.join(self.pass_root, "csv"), lake),
               kind="stage"),
            Op("silver_refine", stage(pipeline.silver_refine, lake), kind="stage"),
            Op("gold_build", stage(pipeline.gold_build, lake), kind="stage"),
            Op("validate_gold", stage(pipeline.validate_gold, lake), kind="stage"),
            Op("incremental_dedup_ingest", ingest, QUERIES["stream_incremental_dedup"].oracle, kind="runner"),
            query("merge_upsert_orders"),
        ]

    def start_pass(self, p: int) -> None:
        """Lake passes read a fresh copy of the inputs and write a new lake."""
        if self.args.workload == "lake":
            self.pass_root = os.path.join(self.work, f"pass{p}")
            shutil.copytree(self.csv, os.path.join(self.pass_root, "csv"))
            shutil.copytree(self.star, os.path.join(self.pass_root, "star"))
            self.pass_dir = os.path.join(self.pass_root, "star")

    def end_pass(self) -> None:
        """Check and release what the pass left behind, then record how much
        Spark's local dirs hold."""
        import pyarrow.parquet as pq

        from tracing import dir_bytes

        if self.args.workload == "lake":
            gold = os.path.join(self.pass_root, "lake", "gold")
            for mart in sorted(os.listdir(gold)) if os.path.isdir(gold) else []:
                n = pq.ParquetDataset(os.path.join(gold, mart)).read(columns=[]).num_rows
                self.rows.setdefault(f"gold.{mart}", set()).add(n)
            written, files = dir_bytes(os.path.join(self.pass_root, "lake"))
            self.lake_io = (written / self.input_bytes, files)
            for release in self.cleanups:
                release()
            self.cleanups.clear()
            shutil.rmtree(self.pass_root, ignore_errors=True)
        self.local_usage.append(dir_bytes(self.local_dirs)[0])

    # -- one op ----------------------------------------------------------
    def run_op(self, op: Op, counters=None, collect=False) -> dict | None:
        """Run ``op`` once; return its build and action seconds and output
        rows, or None if it raised. ``collect`` fetches the result to the
        driver (for the oracle check) instead of a noop write."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tracing import residue

        group = f"{op.name}#{uuid.uuid4().hex[:8]}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.name)
        if counters is not None:
            counters.start()
        self.attempted += 1
        rec: dict = {}
        try:
            with self.tracer.span(f"op.{op.name}"):
                t0 = time.perf_counter()
                with self.tracer.span(f"{op.kind}.{op.name}"):
                    df = op.build()
                t1 = time.perf_counter()
                with self.tracer.span(f"action.{op.name}"):
                    if df is not None and collect:
                        rec["result"] = df.toPandas()
                        rec["rows"] = len(rec["result"])
                    elif df is not None:
                        obs = Observation(group)
                        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                            "overwrite").format("noop").save()
                        rec["rows"] = obs.get["n"]
                t2 = time.perf_counter()
        except Exception:
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=4)}")
            return None
        finally:
            sc.setJobGroup("perfbench", "perfbench")
        if op.kind != "build":  # a stage or runner works inside the call: count it as action
            t1 = t0
        rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0)
        if "rows" in rec:
            self.rows.setdefault(op.name, set()).add(rec["rows"])
        self.residue.append(residue(self.spark))
        if counters is not None:
            rec["counters"] = counters.collect(group)
        return rec

    def check_oracle(self, op: Op, result) -> None:
        from etl_ecommerce_data_spark.testing import diff_rows, duckdb_connection, normalize

        con = duckdb_connection(self.pass_dir)
        try:
            want = normalize(con.execute(op.oracle).fetchdf())
        finally:
            con.close()
        got = normalize(result)
        if got != want:
            only_s, only_o = diff_rows(got, want)
            self.failures.append(f"{op.name}: differs from its oracle; spark-only {only_s}; oracle-only {only_o}")

    # -- the run ---------------------------------------------------------
    def run(self) -> dict[str, float]:
        from tracing import SparkCounters, peak_rss_mb

        t_setup = time.perf_counter()
        with self.tracer.span("session.start"):
            from etl_ecommerce_data_spark.session import get_spark

            self.spark = get_spark("perfbench", extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} ",
                "spark.local.dir": self.local_dirs,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            })
        start_s = time.perf_counter() - t_setup
        with self.tracer.span("setup.generate"):
            gen_s = self.generate()
        ops = self.ops()
        t_cold = time.perf_counter()
        with self.tracer.span("session.cold_pass"):
            self.start_pass(0)
            cold = {op.name: self.run_op(op, collect=op.oracle is not None) for op in ops}
            cold_s = time.perf_counter() - t_cold
            with self.tracer.span("check.oracles"):  # the benchmark's own work, not set-up
                t_check = time.perf_counter()
                for op in ops:
                    if cold[op.name] is not None and op.oracle is not None:
                        self.check_oracle(op, cold[op.name].pop("result"))
                check_s = time.perf_counter() - t_check
            self.end_pass()
        setup_s = time.perf_counter() - t_setup - check_s

        # timed passes: untraced, or alternating untraced / traced
        counters = SparkCounters(self.spark) if self.args.trace else None
        plain: list[dict] = []
        traced: list[dict] = []
        steal0 = _cpu_steal()
        first_timed = len(self.local_usage)
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline or len(plain) + len(traced) < MIN_PASSES[self.args.workload]:
            use_trace = counters is not None and len(traced) < len(plain)
            self.tracer.enabled = use_trace
            self.start_pass(len(plain) + len(traced) + 1)
            with self.tracer.span("pass"):
                recs = {op.name: self.run_op(op, counters if use_trace else None) for op in ops}
            self.end_pass()
            (traced if use_trace else plain).append(recs)
        self.tracer.enabled = counters is not None
        steal = [b - a for a, b in zip(steal0, _cpu_steal())]

        for n, seen in self.rows.items():
            if len(seen) != 1:
                self.failures.append(f"{n}: row count differs across passes: {sorted(seen)}")
        local_mb = [b / 2**20 for b in self.local_usage[first_timed:]]
        if local_mb[-1] - local_mb[0] > LOCAL_GROWTH_LIMIT_MB:
            self.failures.append(f"residue: Spark local dirs grew across passes: {local_mb} MB")
        names = [op.name for op in ops]
        e2e = summarize(plain, names)
        e2e["setup_s"] = setup_s
        self.summary = {"start_s": start_s, "gen_s": gen_s, "cold_s": cold_s,
                        "passes": len(plain), "steal_pct": 100 * steal[1] / max(steal[0], 1),
                        "local_dirs_mb": [round(m, 2) for m in local_mb], "e2e": e2e, "op_s": op_medians(plain, names),
                        "op_pass_s": {n: [round(p[n]["total_s"], 3) for p in plain if p.get(n)] for n in names}}
        if counters is None:
            return e2e
        layers = self.layer_metrics(traced, names)
        layers.update({
            "mem.peak_rss_mb": peak_rss_mb(self.spark),
            "session.start_s": start_s,
            "session.cold_pass_s": cold_s,
            "trace.overhead_s": summarize(traced, names)["wall_s"] - e2e["wall_s"],
        })
        with self.tracer.span("probes"):
            layers.update(self.probes())
        self.tracer.dump(
            os.path.join(ROOT, ".perfbench", "traces", f"{self.tracer.run_id}.json"),
            {"layers": layers, **self.summary},
        )
        return layers

    def layer_metrics(self, traced: list[dict], names: list[str]) -> dict[str, float]:
        """Per-layer values: the median over traced passes of each pass's
        sum, plus the residue and write-path figures."""
        out = {k: 0.0 for k in LAYER_UNITS}
        per_pass = []
        for recs in traced:
            acc: dict[str, float] = {"plans.build_s": 0.0, "exec.action_s": 0.0}
            for n in names:
                r = recs.get(n)
                if r is None:
                    continue
                acc["plans.build_s"] += r["build_s"]
                acc["exec.action_s"] += r["action_s"]
                if n in LAKE_LAYER:
                    acc[LAKE_LAYER[n]] = r["total_s"]
                for k, v in r["counters"].items():
                    acc[k] = acc.get(k, 0.0) + v
            per_pass.append(acc)
        for k in set().union(*per_pass):
            out[k] = statistics.median(p.get(k, 0.0) for p in per_pass)
        out["reuse.persisted_rdds_after_op"] = max(r[0] for r in self.residue)
        out["reuse.cached_mb_after_op"] = max(r[1] for r in self.residue)
        out["residue.local_dirs_growth_mb"] = self.summary["local_dirs_mb"][-1] - self.summary["local_dirs_mb"][0]
        if self.args.workload == "lake":
            out["sources.bytes_written_per_input_byte"], out["sources.files_written"] = self.lake_io
        return out

    def probes(self) -> dict[str, float]:
        """Direct operator-module probes on this run's inputs, after the warm
        passes (so each is warm), timed once each."""
        import probes

        out = {}
        for metric, fn in probes.for_workload(self.args.workload, self.spark, self.star, self.csv).items():
            with self.tracer.span(f"probe.{metric}"):
                t0 = time.perf_counter()
                fn()
                out[metric] = time.perf_counter() - t0
        return out

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        proc = spark.sparkContext._gateway.proc
        spark.stop()
        if proc is not None:  # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)


def _cpu_steal() -> tuple[int, int]:
    """(all CPU jiffies, stolen jiffies) since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def op_medians(passes: list[dict], names: list[str]) -> dict[str, float]:
    """Each op's median time across ``passes``; an op that failed in a pass
    uses its other passes."""
    out = {}
    for n in names:
        ts = [p[n]["total_s"] for p in passes if p.get(n) is not None]
        if ts:
            out[n] = statistics.median(ts)
    return out


def summarize(passes: list[dict], names: list[str]) -> dict[str, float]:
    """wall_s = sum of per-op medians; op_p50_s and op_max_s = median and max
    of the per-op medians."""
    med = list(op_medians(passes, names).values())
    if not med:
        return {"wall_s": 0.0, "op_p50_s": 0.0, "op_max_s": 0.0}
    return {"wall_s": sum(med), "op_p50_s": statistics.median(med), "op_max_s": max(med)}


def run_all(args) -> int:
    """Run every workload, each in its own process (a run owns its JVM), and
    print each metric by workload, name and unit; the last line is one JSON
    result whose metric names are ``<workload>/<metric>``."""
    import subprocess

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        for k in ("attempted", "failed"):
            merged[k] += res[k]
        merged["correct"] &= res["correct"]
        for k, m in res["metrics"].items():
            print(f"{w:7s} {k:38s} {m['value']:14.4f} {m['unit']}")
            merged["metrics"][f"{w}/{k}"] = m
        print(f"{w:7s} {'failed / attempted':38s} {res['failed']:7d} / {res['attempted']}")
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the engine.")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "etl_ecommerce_data_spark")):
        print("perfbench: no engine package beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    # every file the program, Spark and the JVM write stays under the checkout
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path[:0] = [ROOT, HERE]
    bench = Bench(args, work)
    for d in (bench.tmp, bench.local_dirs):
        os.makedirs(d)
    os.environ["TMPDIR"] = bench.tmp
    os.environ["SPARK_LOCAL_DIRS"] = bench.local_dirs
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        metrics = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    for f in bench.failures:
        print("FAILED", f, file=sys.stderr)
    print(json.dumps({"workload": args.workload, **bench.summary}), file=sys.stderr)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
