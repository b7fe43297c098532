"""Benchmark of the graphload pipeline and a hot registry set.

    python3 perfbench/run.py --workload backfill-churn --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs come from ``--seed`` only; the
program sees nothing but the generated files.  Set-up builds the session
twice, each time in a new JVM as every CLI command does.  Then passes
repeat until ``--seconds`` have elapsed and each end-to-end metric is the
median over them.  ``backfill-churn`` times the first pass in the new JVM,
as a CLI user waits for it; ``registry-hot`` first runs a checked warm-up
pass.
Outputs are checked against independent models outside the timed region.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.

``--trace 1`` then repeats the pass in a new JVM with Spark's event log
on and spans around the program's layer functions, folds the log into
per-layer metrics (``layers.py``) and reports the tracing overhead; on
``backfill-churn`` it adds one informational ``local[1]`` pass.  The full
trace record goes to ``.perfbench_work/traces/``.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PKG = "substreams_sink_graph_load_spark"


_T0 = time.perf_counter()
# a run must end within 180 s; the informational local[1] pass (a JVM
# launch plus a single-core pass, about 45 s on a 4-core VM) starts only
# before this point of the run
LOCAL1_START_BY_S = 110.0


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _ident(x):
    return x


class Bench:
    def __init__(self, root: str, args):
        self.root = root
        self.args = args
        self.work = os.path.join(root, ".perfbench_work")
        self.run_dir = os.path.join(self.work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        # processes whose CPU time a pass is charged: this one (the JVM and
        # Python workers are its descendants) and the Postgres server
        self.cpu_roots = [os.getpid()]

    # -- session -----------------------------------------------------------
    def _conf(self, event_log: str | None = None) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def build(self, event_log: str | None = None, master: str | None = None,
              shuffle_partitions: int | None = None) -> tuple[float, float]:
        """A session in a new JVM, as each CLI command starts one: stop the
        current session and its JVM, then time ``get_spark`` (which launches
        the JVM and ships the package) and the first Python task.  Returns
        both walls."""
        from substreams_sink_graph_load_spark.session import get_spark

        self.stop_session()
        _stop_jvm()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=master,
                               shuffle_partitions=shuffle_partitions,
                               extra_conf=self._conf(event_log))
        t1 = time.perf_counter()
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark.sparkContext.parallelize(range(n), n).map(_ident).count()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return t1 - t0, t2 - t1

    def stop_session(self) -> None:
        spark, self.spark = self.spark, None
        if spark is not None:
            try:
                spark.stop()
            except Exception:  # cleanup goes on: Postgres and the JVM still stop
                log(f"session stop failed:\n{traceback.format_exc()}")

    def setup(self, builds: int) -> dict:
        """Build the session ``builds`` times, each in a new JVM, and keep
        the last; ``setup_s`` is the median build.  Untraced runs build
        twice: a third JVM launch would not fit the run budget.  A traced
        run builds once: it reports per-layer metrics, not ``setup_s``."""
        walls = [self.build() for _ in range(builds)]
        totals = [a + b for a, b in walls]
        return {
            "setup_s": statistics.median(totals),
            "get_spark_s": statistics.median(a for a, _ in walls),
            "first_python_task_s": statistics.median(b for _, b in walls),
            "setup_builds_s": totals,
        }

    # -- cache of expected outputs ----------------------------------------
    def cached(self, kind: str, compute):
        """Expected outputs, computed once per seed and source version."""
        src = hashlib.sha256()
        for fn in ("wiregen.py", "model.py", "workloads.py", "registry.py"):
            with open(os.path.join(HERE, fn), "rb") as fh:
                src.update(fh.read())
        path = os.path.join(self.work, "cache",
                            f"{kind}-{self.args.seed}-{src.hexdigest()[:12]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        value = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(value, fh)
        os.replace(path + ".tmp", path)
        return value

    def count(self, res: dict) -> None:
        self.attempted += res["attempted"]
        self.failed += res["failed"]

    # -- workloads ---------------------------------------------------------
    def backfill(self) -> dict:
        import pipeline
        import wiregen
        from pgserver import FSYNC, PgServer
        from workloads import CHURN

        knobs = CHURN
        inp = wiregen.generate(knobs, self.args.seed, os.path.join(self.run_dir, "input"))
        log("inputs generated")
        expected = self.cached("backfill-churn",
                               lambda: pipeline.expected_outputs(inp, knobs.bundle_size))
        pg = PgServer(os.path.join(self.run_dir, "pg"))
        try:
            dsn = pg.start()
            self.cpu_roots.append(pg.pid())
            descs = pipeline.create_tables(dsn, inp["schema"])
            log("postgres up, expected outputs ready")
            setup = self.setup(builds=1 if self.args.trace else 2)
            log("set-up done")
            out = os.path.join(self.run_dir, "out")

            # spans come from the wrapped layer functions; the pass itself
            # needs no tracer
            def run_pass(tracer=None):
                return pipeline.one_pass(self.spark, inp, out, dsn, descs,
                                         knobs.bundle_size, log)

            def reset():
                pipeline.reset(dsn, descs, out)

            # no warm-up: each CLI command is a new process with a new JVM,
            # so its first pass is what a user of run/tocsv/inject-csv
            # waits for
            passes = self.measure(run_pass, pipeline.PHASES, prepare=reset)
            log(f"{len(passes)} measured passes done")
            res = pipeline.check(inp, expected, out, dsn, descs, log)
            log("outputs checked")
            self.count(res)
            e2e = self.summarise(passes, pipeline.PHASES)
            e2e["setup_s"] = setup["setup_s"]
            e2e["pipeline_events_per_s"] = len(inp["events"]) / e2e["pass_s"] if e2e["pass_s"] else 0.0
            self.info.update(setup)
            self.info.update({"events": len(inp["events"]), "pg_fsync": FSYNC,
                              "csv_rows": res["csv_rows"], "csv_files": res["csv_files"]})
            layers = None
            if self.args.trace:
                staged = os.path.join(out, "jsonl", "_work_ingest", "wire_log")
                extra = {**setup, "staged_mb": _dir_mb(staged), "csv_rows": res["csv_rows"],
                         "csv_mb": res["csv_mb"]}
                layers = self.traced(run_pass, pipeline.PHASES, e2e, extra, warm_up=False,
                                     local1=lambda: self.fresh_pass(
                                         run_pass, pipeline.PHASES, reset,
                                         master="local[1]", shuffle_partitions=1),
                                     prepare=reset)
            return {"e2e": e2e, "layers": layers}
        finally:
            try:
                self.stop_session()
            finally:
                pg.stop()

    def registry(self) -> dict:
        import registry
        from workloads import REGISTRY_QUERIES, REGISTRY_SF

        sys.path.insert(0, os.path.join(self.root, "scripts"))
        import gen_sf

        sf_dir = os.path.join(self.run_dir, "sf")
        gen_sf.gen(REGISTRY_SF, sf_dir, self.args.seed)
        oracles = self.cached("registry-hot",
                              lambda: registry.oracle_frames(sf_dir, REGISTRY_QUERIES))
        log("inputs and oracle results ready")
        try:
            setup = self.setup(builds=1 if self.args.trace else 2)
            log("set-up done")
            # the checked pass is also the warm-up pass
            self.count(registry.check_pass(self.spark, sf_dir, REGISTRY_QUERIES, oracles, log))
            log("checked warm-up pass done")

            def run_pass(tracer=None):
                r = registry.timed_pass(self.spark, sf_dir, REGISTRY_QUERIES, log, tracer)
                if len(r["walls"]) == len(REGISTRY_QUERIES):
                    r["registry_s"] = sum(r["walls"].values())
                return r

            def release():
                # operators may persist intermediates; drop them and collect
                # the heap between passes, outside the measured window, so
                # passes do not charge each other rent (bench.py does the
                # same)
                self.spark.catalog.clearCache()
                self.spark.sparkContext._jvm.System.gc()

            passes = self.measure(run_pass, ("registry_s",), prepare=release)
            log(f"{len(passes)} measured passes done")
            e2e = self.summarise(passes, ("registry_s",))
            e2e["setup_s"] = setup["setup_s"]
            self.info.update(setup)
            self.info["query_s"] = {q: [p["walls"].get(q) for p in passes]
                                    for q in REGISTRY_QUERIES}
            layers = None
            if self.args.trace:
                layers = self.traced(run_pass, ("registry_s",), e2e, dict(setup), warm_up=True,
                                     local1=None, prepare=release)
            return {"e2e": e2e, "layers": layers}
        finally:
            self.stop_session()

    # -- measurement -------------------------------------------------------
    def measure(self, one_pass, phases, prepare=None) -> list[dict]:
        """Passes until ``--seconds`` have elapsed, each charged the CPU
        time of the process tree over it.  ``prepare`` runs before each
        pass, outside the measured window."""
        from host import load_sample, steal_share, tree_cpu_s

        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            if prepare is not None:
                prepare()
            cpu0, host0 = tree_cpu_s(self.cpu_roots), load_sample()
            r = one_pass()
            r["cpu_raw_s"] = tree_cpu_s(self.cpu_roots) - cpu0
            r["steal_share"] = steal_share(host0, load_sample())
            # an empirical adjustment, not CPU accounting: CPU time rises
            # with the host's steal share (noisy neighbours slow the same
            # work down), and scaling by the share narrows the spread
            # between runs of the same code (README.md, "How a run
            # measures")
            r["cpu_s"] = r["cpu_raw_s"] * (1.0 - r["steal_share"])
            self.count(r)
            passes.append(r)
        self.info["passes"] = len(passes)
        self.info["pass_walls_s"] = [sum(p.get(k, 0.0) for k in phases) for p in passes]
        self.info["pass_cpu_raw_s"] = [p["cpu_raw_s"] for p in passes]
        self.info["pass_steal_share"] = [p["steal_share"] for p in passes]
        return passes

    def summarise(self, passes: list[dict], phases) -> dict:
        ok = [p for p in passes if all(k in p for k in phases)]
        e2e = {k: statistics.median(p[k] for p in ok) if ok else 0.0 for k in phases}
        e2e["pass_s"] = statistics.median(sum(p[k] for k in phases) for p in ok) if ok else 0.0
        e2e["pass_cpu_s"] = statistics.median(p["cpu_s"] for p in ok) if ok else 0.0
        return e2e

    def traced(self, one_pass, phases, e2e: dict, extra: dict, warm_up: bool,
               local1, prepare=None) -> dict:
        """A pass in a new JVM with the event log on and spans installed,
        folded into the per-layer metrics, and the tracing overhead: the
        traced pass minus the measured untraced pass, which ran in the same
        state.  With ``warm_up`` (registry-hot) a traced warm-up pass comes
        first, as an untraced one came before the measured pass."""
        import eventlog
        import layers
        from spans import Tracer

        ev_dir = os.path.join(self.run_dir, "eventlog")
        self.build(event_log=ev_dir)
        tracer = Tracer(self.spark.sparkContext)
        tracer.install()
        try:
            if warm_up:
                self.count(one_pass(tracer))
            if prepare is not None:
                prepare()
            mark = len(tracer.spans)
            r = one_pass(tracer)
        finally:
            tracer.uninstall()
        self.count(r)
        traced_pass = sum(r.get(k, 0.0) for k in phases)
        self.stop_session()
        log("traced pass done")
        untraced = e2e["pass_s"]
        logs = glob.glob(os.path.join(ev_dir, "*"))
        spans = tracer.spans[mark:]
        folded = eventlog.fold(eventlog.read(max(logs, key=os.path.getmtime)), spans)
        full = layers.layer_metrics(spans, folded, extra)
        for k in ("run_s", "tocsv_s", "inject_s", "registry_s"):
            full[f"phase.{k}"] = r.get(k, 0.0)
        full["trace.untraced_pass_s"] = untraced
        full["trace.traced_pass_s"] = traced_pass
        full["trace.overhead_s"] = traced_pass - untraced
        full["trace.overhead_share"] = full["trace.overhead_s"] / untraced if untraced else 0.0
        full["scaling.local1_pass_s"] = 0.0
        full["scaling.speedup"] = 0.0
        if local1 is not None and time.perf_counter() - _T0 > LOCAL1_START_BY_S:
            log("local[1] pass skipped: too late in the run")
        elif local1 is not None:
            one = local1()
            full["scaling.local1_pass_s"] = one
            full["scaling.speedup"] = one / untraced if one and untraced else 0.0
        return full

    def fresh_pass(self, one_pass, phases, prepare, **build) -> float:
        """One untraced pass in a new JVM; 0 if a phase failed."""
        self.build(**build)
        prepare()
        r = one_pass()
        self.count(r)
        self.stop_session()
        log(f"fresh-JVM pass done {build or ''}")
        return sum(r[k] for k in phases) if all(k in r for k in phases) else 0.0


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for every process this
    run started (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # a broken gateway must not keep the JVM alive
            log(f"gateway shutdown failed:\n{traceback.format_exc()}")
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    from host import descendants

    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as exc:
        log(f"cannot read BENCHMARK.json in {root}: {exc}")
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {names}")
        return 2
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        log(f"no {PKG} package under {root}: run from the repository root")
        return 2
    sys.path.insert(0, root)

    from host import cpus, host_record, load_sample

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # a terminated run still stops its Postgres server and JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(root, args)
    # keep temporary files inside the checkout: Python's and the JVMs'
    # (spark-submit's launcher too), whose perf-data files go to /tmp
    # unless switched off
    os.environ["TMPDIR"] = bench.tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={bench.tmp}")))
    before = load_sample()
    try:
        result = bench.backfill() if args.workload.startswith("backfill") else bench.registry()
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        bench.stop_session()
        _stop_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host_record(before, load_sample()), **bench.info}

    e2e = dict(result["e2e"])
    e2e["failed_share"] = bench.failed / bench.attempted if bench.attempted else 1.0
    units = {"_s": "s", "_mb": "MB", "_per_s": "1/s"}
    for k, v in sorted(e2e.items()):
        unit = next((u for suf, u in sorted(units.items(), key=lambda x: -len(x[0]))
                     if k.endswith(suf)), "ratio")
        print(f"{k} = {v:.6g} {unit}")
    print("host " + json.dumps(record["host"]))
    for k in ("setup_builds_s", "pass_walls_s", "pass_cpu_raw_s", "pass_steal_share", "query_s"):
        if k in record:
            print(f"{k} " + json.dumps(record[k]))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = result["layers"] if args.trace else e2e
    if args.trace:
        record["layers"] = result["layers"]
        traces = os.path.join(bench.work, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        for k in ("trace.overhead_s", "trace.overhead_share", "scaling.local1_pass_s"):
            print(f"{k} = {source[k]:.6g}")
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
