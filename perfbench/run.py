"""Hiring-audit benchmark: run one workload for one seed, print one JSON
result line.

    python3 perfbench/run.py --workload weekly_full_refresh --seed 1 --seconds 14 --trace 0

Run it from the repository root. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with a span around every
layer call and reports the per-layer metrics instead (README.md has the
tables). Every file the run writes lives under ``.perfbench_run/`` in the
current directory and is removed before exit, except a traced run's span
dump; a human-readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "nyc_government_hiring_audit_data_platform_spark"
WORKLOADS = ("weekly_full_refresh", "weekly_delta_refresh")
# Spark cores and client threads: the sizing host's 4 cores, fixed so a
# bigger host runs the same benchmark
CORES = min(4, len(os.sched_getaffinity(0)))
# dashboard requests each client sends after the timed refreshes: a fixed
# count, so every run's latency percentiles rest on the same 128 samples;
# before them, untimed, the first reads of the newly published tables
READS_PER_CLIENT, WARM_READS_PER_CLIENT = 32, 3
# direct serving-layer calls in a traced run
TRACED_FETCHES, TRACED_DASHBOARDS = 40, 20


def isolate(run_root: str, repo_root: str) -> None:
    """Fresh Spark local dirs and temp dir for this run, and the repo on
    the import path of the pandas-UDF workers (not only of this process)."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_root, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [repo_root, HERE]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: the set-up, the timed loop, the checks."""

    def __init__(self, args, run_root: str):
        import checks
        import gen
        import serve
        import spans
        import workloads as W

        self.C, self.G, self.S, self.T, self.W = checks, gen, serve, spans, W
        self.args, self.run_root = args, run_root
        self.workload, self.seed, self.traced = args.workload, args.seed, bool(args.trace)
        self.delta = self.workload == "weekly_delta_refresh"
        self.spark = self.server = None
        self.attempted, self.failures = 0, []
        self.latencies: list[float] = []
        self.serve_wall = 0.0
        self.refresh_s: list[float] = []
        self.traced_refresh_s: list[float] = []
        self.stored_ratio: list[float] = []
        self.counts: dict[str, float] = {}
        self.laps: list[dict] = []  # spans of each traced refresh
        # GOLD hashes recorded for this seed; otherwise the first
        # refresh's, which every later one must repeat
        self.reference_hashes = checks.load_expected().get(f"{self.workload}/{self.seed}")

    # -- set-up ---------------------------------------------------------------

    def start_session(self) -> None:
        from nyc_government_hiring_audit_data_platform_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_root, "store", "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            # keep every job of the timed loop for the stage metrics; a
            # traced run outgrows the default 1000 stages
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        self.spark = get_spark(app_name="perfbench", cpus=CORES, driver_memory="1g", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = self.T.Tracer(self.spark, enabled=False)
        self.env = self.W.Env(self.spark, self.tracer, os.path.join(self.run_root, "store"))

    def setup(self) -> None:
        """Session start, input generation, warm-up and the workload's
        prerequisite state, with the server started and warmed."""
        W = self.W
        self.start_session()
        self.inputs = self.G.generate(os.path.join(self.run_root, "inputs"), self.seed, self.G.SIZES[self.workload])
        self.server = self.S.Server()
        # warm-up: one refresh of the run's own inputs runs every code path
        # the timed ones take, at their size (after one on a tiny input,
        # the first timed full refresh still ran up to a third slower)
        if self.delta:
            self.snapshot = W.delta_setup(self.env, self.inputs)
            W.delta_refresh(self.env, self.inputs)  # every timed refresh undoes it
        else:
            W.full_refresh(self.env, self.inputs)
        self.publish(self.C.collect_gold(self.env))
        self.serve(2)  # warms the read path

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one refresh and its checks -------------------------------------------

    def input_bytes(self) -> int:
        names = ["delta_postings"] if self.delta else ["payroll", "postings", "lightcast"]
        return sum(os.path.getsize(self.inputs[n]) for n in names)

    def refresh(self, traced: bool) -> dict[str, list[dict]]:
        """One timed weekly refresh, then its output checks (untimed);
        returns the published GOLD rows."""
        W, C = self.W, self.C
        if self.delta:
            W.delta_restore(self.env, self.snapshot)
        before = W.storage_files(self.env.root)
        first_span = len(self.tracer.spans)
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        if self.delta:
            W.delta_refresh(self.env, self.inputs)
        else:
            W.full_refresh(self.env, self.inputs)
        dt = time.perf_counter() - t0
        self.tracer.enabled = False
        stored = W.written(before, W.storage_files(self.env.root))["bytes_written"]
        self.stored_ratio.append(stored / self.input_bytes())
        if traced:
            self.traced_refresh_s.append(dt)
            self.laps.append({"refresh_s": dt, "spans": self.tracer.spans[first_span:]})
        else:
            self.refresh_s.append(dt)

        gold = C.collect_gold(self.env)
        hashes = {t: C.content_hash(rows) for t, rows in gold.items()}
        self.reference_hashes = self.reference_hashes or hashes
        self.attempted += 1
        self.failures += C.hash_problems(hashes, self.reference_hashes)
        return gold

    def final_checks(self, gold: dict[str, list[dict]]) -> None:
        """The ETL invariants on the last refresh's output, and for the
        delta workload the union check; each counts as one operation."""
        W, C = self.W, self.C
        problems, match_rows = C.etl_problems(self.env, gold, cutoff=85)
        self.attempted += 1
        self.failures += problems
        self.counts["pipelines.hiring_audit.gold_rows"] = sum(len(r) for r in gold.values())
        self.counts["pipelines.hiring_audit.match_rows"] = match_rows
        if self.delta:
            self.counts["operators.incremental.state_rows"] = W.FILES.read_table(
                self.spark, W.state_path(self.env, 1)).count()
            self.attempted += 1
            self.failures += self.delta_union_problems()

    def delta_union_problems(self) -> list[str]:
        """Prior matches plus the last refresh's batch must equal one
        tokensort-lane match over base and delta postings."""
        C = self.C
        got = [r.asDict() for r in self.env.table("bronze", self.W.MATCHES).collect()]
        want = [r.asDict() for r in self.W.one_shot_tokensort(self.env, self.inputs).collect()]
        if C.content_hash(got) != C.content_hash(want):
            return [f"prior + delta matches ({len(got)} rows) != one-shot ({len(want)} rows)"]
        return []

    # -- serving -------------------------------------------------------------

    def publish(self, gold: dict[str, list[dict]]) -> None:
        """Bind the published GOLD tables to the server; ``gold`` holds
        their rows, from which the clients' answers are computed."""
        from nyc_government_hiring_audit_data_platform_spark.serving import reports

        tables = {t: self.env.table("gold", t) for t in self.W.GOLD_TABLES}
        reports.register_gold_tables(tables)
        self.clients = self.S.Clients(
            self.server.port, tables["nyc_salary_matches"], self.S.Expected(gold), self.seed, CORES)

    def serve(self, ops_per_client: int) -> None:
        self.serve_wall += self.clients.run(ops_per_client)
        self.latencies += self.clients.latencies
        self.attempted += self.clients.attempted
        self.failures += self.clients.failed

    # -- the run -------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        self.setup()
        setup_s = time.perf_counter() - t0
        first_job = self.T.next_job_id(self.spark)
        gc0 = self.T.jvm_gc_s(self.spark)
        t_start = time.perf_counter()
        # refreshes start until --seconds have passed, two at least; a
        # traced run alternates untraced and traced refreshes
        laps = 0
        while laps < 2 or time.perf_counter() - t_start < self.args.seconds:
            gold = self.refresh(traced=self.traced and laps % 2 == 1)
            laps += 1
        self.final_checks(gold)
        # the dashboard's readers, on the GOLD tables the last refresh published
        self.publish(gold)
        self.serve(WARM_READS_PER_CLIENT)
        self.latencies, self.serve_wall = [], 0.0  # only the reads below are timed
        self.serve(READS_PER_CLIENT)
        info = {"refresh_s": [round(x, 2) for x in self.refresh_s],
                "traced_refresh_samples": len(self.traced_refresh_s), "requests": len(self.latencies)}
        if self.traced:
            session = self.T.StageIndex(self.spark, first_job).metrics()
            session["gc_s"] = self.T.jvm_gc_s(self.spark) - gc0
            return self.per_layer(session), info
        lat = self.S.latency_summary(self.latencies)
        info["tail_percentile"] = lat["tail_pct"]
        return {
            "setup_s": (setup_s, "s"),
            "refresh_s": (median(self.refresh_s), "s"),
            "serve_p50_ms": (lat["p50_ms"], "ms"),
            "serve_p99_ms": (lat["tail_ms"], "ms"),
            "serve_rps": (len(self.latencies) / self.serve_wall, "1/s"),
            "stored_bytes_per_input_byte": (median(self.stored_ratio), "B/B"),
            "peak_rss_mb": (self.T.peak_rss_mb(self.spark), "MB"),
        }, info

    # -- per-layer metrics (traced run) -----------------------------------------

    def per_layer(self, session: dict) -> dict:
        out = self.refresh_layers()
        out.update(self.fuzzy_layers(out))
        out.update(self.serving_layers())
        out.update({k: (v, "count") for k, v in self.counts.items()})
        out.setdefault("operators.incremental.state_rows", (0, "count"))
        out["session.gc_s"] = (session["gc_s"], "s")
        out["session.spill_bytes"] = (session["spill_bytes"], "B")
        out["session.shuffle_bytes"] = (session["shuffle_bytes"], "B")
        self.tracer.dump(os.path.join(os.path.dirname(self.run_root), f"spans-{self.workload}.json"))
        return out

    def refresh_layers(self) -> dict:
        """Medians over the traced refreshes of each layer's spans."""
        T = self.T
        index = T.StageIndex(self.spark)
        per: dict[str, list[float]] = {}

        def add(name: str, value: float) -> None:
            per.setdefault(name, []).append(value)

        for lap in self.laps:
            spans = lap["spans"]
            named = lambda *names: [s for s in spans if s["name"] in names]  # noqa: E731
            add("trace.top_span_coverage", T.dur([s for s in spans if s["parent"] is None]) / lap["refresh_s"])
            for layer, ws in (("sources.files", named("sources.files.write_table")),
                              ("pipelines.catalog", named("pipelines.catalog.save_table",
                                                          "pipelines.catalog.publish_gold"))):
                add(f"{layer}.write_s", T.dur(ws))
                add(f"{layer}.bytes_written", sum(s["bytes_written"] for s in ws))
                add(f"{layer}.files_written", sum(s["files_written"] for s in ws))
            for step in ("match_salary", "match_durations", "gold"):
                ss = named(f"pipelines.hiring_audit.{step}")
                m = index.metrics(self.tracer.groups(ss))
                add(f"pipelines.hiring_audit.{step}_s", T.dur(ss))
                add(f"pipelines.hiring_audit.{step}_task_s", m["task_s"])
                add(f"pipelines.hiring_audit.{step}_shuffle_bytes", m["shuffle_bytes"])
            add("operators.fuzzy.index_read_s", T.dur(named("operators.fuzzy.read_title_index")))
            add("operators.incremental.state_fold_s", T.dur(named("operators.incremental.state_fold")))
        out = {k: (median(v), _unit(k)) for k, v in per.items()}
        traced, untraced = median(self.traced_refresh_s), median(self.refresh_s)
        out["trace.refresh_s"] = (traced, "s")
        out["trace.overhead_s"] = (traced - untraced, "s")
        return out

    def fuzzy_layers(self, layers: dict) -> dict:
        """``fuzzy_title_pairs`` (WRatio 85/85) called directly on the
        refresh's titles - the delta batch's, for the delta workload - and
        for the delta workload the tokensort index probe on its own."""
        from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

        T, env = self.T, self.env
        payroll = env.table("bronze", self.W.SOURCES["payroll"])
        if self.delta:
            postings = self.W.FILES.read_table(self.spark, self.inputs["delta_postings"])
        else:
            postings = env.table("bronze", self.W.SOURCES["postings"])
        pairs = FZ.fuzzy_title_pairs(postings, payroll, "business_title", "title_description", 85, 85)
        t0 = time.perf_counter()
        matched = len(pairs.collect())
        pairs_s = time.perf_counter() - t0
        candidates = T.rows_into_udf(pairs._jdf.queryExecution().executedPlan())
        probe_s = probe_shuffle = 0.0
        if self.delta:
            index = FZ.read_title_index(self.spark, env.index_dir)
            probe = FZ.incremental_fuzzy_pairs_tokensort(
                index, postings, "business_title", *self.W.TOKENSORT.values())
            t0 = time.perf_counter()
            probe.collect()
            probe_s = time.perf_counter() - t0
            table = FZ._index_table_name(env.index_dir)
            probe_shuffle = T.exchange_bytes(probe._jdf.queryExecution().executedPlan(), lambda s: table in s)
        # the fuzzy operator's time in a refresh: WRatio pair scoring in
        # the full refresh, index read plus probe in the delta refresh
        lane = layers["operators.fuzzy.index_read_s"][0] + probe_s if self.delta else pairs_s
        return {
            "operators.fuzzy.pairs_s": (pairs_s, "s"),
            "operators.fuzzy.candidate_pairs": (candidates, "count"),
            "operators.fuzzy.matched_pairs": (matched, "count"),
            "operators.fuzzy.pair_yield": (matched / candidates if candidates else 0.0, "ratio"),
            "operators.fuzzy.probe_s": (probe_s, "s"),
            "operators.fuzzy.probe_index_shuffle_bytes": (probe_shuffle, "B"),
            "operators.fuzzy.share_of_refresh": (lane / median(self.traced_refresh_s), "ratio"),
        }

    def serving_layers(self) -> dict:
        """Direct ``fetch_report`` and ``dashboard_view`` calls on the last
        published GOLD: time, Spark jobs per call, rows sorted per row
        returned (``fetch_report`` sorts the whole table for each page)."""
        from nyc_government_hiring_audit_data_platform_spark.serving import reports

        T, S = self.T, self.S
        rng = random.Random(f"traced-serving-{self.seed}")
        sizes = [len(p) for p in self.clients.exp.pages]
        pages = [op[1:3] for op in S.CYCLE if op[0] == "page" and op[3:] != ("past",)]
        fetch_s, dash_s, returned, sorted_rows = [], [], 0, 0
        job0 = T.next_job_id(self.spark)
        for k in range(TRACED_FETCHES):
            table, limit = pages[k % len(pages)]
            offset = rng.randrange(max(sizes[table], 1))
            t0 = time.perf_counter()
            returned += len(reports.fetch_report(table, offset, limit))
            fetch_s.append(time.perf_counter() - t0)
            sorted_rows += sizes[table]
        for _ in range(TRACED_DASHBOARDS):
            lo = rng.uniform(85, 95)
            t0 = time.perf_counter()
            reports.dashboard_view(self.clients.df, lo, rng.uniform(lo, 100))
            dash_s.append(time.perf_counter() - t0)
        jobs = T.next_job_id(self.spark) - job0
        return {
            "serving.reports.fetch_s": (median(fetch_s), "s"),
            "serving.reports.dashboard_s": (median(dash_s), "s"),
            "serving.reports.spark_jobs_per_request": (jobs / (TRACED_FETCHES + TRACED_DASHBOARDS), "count"),
            "serving.reports.rows_sorted_per_row_returned": (sorted_rows / max(returned, 1), "ratio"),
        }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("coverage"):
        return "ratio"
    return "count"


def shutdown_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired: force it
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    repo_root = os.getcwd()
    if not os.path.isdir(os.path.join(repo_root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ here; run from the repository root", file=sys.stderr)
        return 2
    runs_dir = os.path.join(repo_root, ".perfbench_run")
    run_root = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(run_root, repo_root)
    run = None
    try:
        run = Run(args, run_root)
        metrics, info = run.run()
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if run is not None:
            run.close()
        shutdown_jvm()
        shutil.rmtree(run_root, ignore_errors=True)
        if not os.listdir(runs_dir):
            os.rmdir(runs_dir)
    failed = len(run.failures)
    for f in run.failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} {info} "
          f"attempted={run.attempted} failed={failed} "
          f"failed_ops_frac={failed / run.attempted:.4f}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"perfbench:   {name:<52} {value:>14.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
