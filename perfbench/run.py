"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload frontier_bulk --seed 1 --seconds 2 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``) and the program runs on
``local[<cores>]``. A run sets up ``N_SETUPS`` times, runs
``WARM_UP_REPS`` checked reps on the same inputs, then times reps until
``--seconds`` have passed and at least ``MIN_REPS`` of them have run.
Every rep's output is checked against the reference, and the last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs, after a warm-up, an untraced rep and a rep with spans
around the program's public calls, then the layer probes, and reports
the per-layer metrics, the tracing overhead among them. Lines starting with ``#`` above the JSON give the
sample counts and notes (traced and untraced wall time; for
``frontier_bulk`` the 1-to-N-core scaling efficiency). Spans are written
to ``.perfbench_work/traces/``."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

N_SETUPS = 2  # set-ups per run, the first on a cold JVM; setup_s is their median
DRIVER_MEMORY = "2g"  # local mode: the driver JVM is the executor
# Untimed warm-up reps and the least number of timed reps per run; the
# metrics are the timed reps' medians. A frontier round costs 25-35 s on
# a fresh JVM and 13-20 s warm on 4 cores, mostly fixed per-round
# planning and job launches, so the benchmark's run budget fits one
# round beside the set-ups: frontier_bulk times the first round of the
# JVM, as a one-round batch job sees it. The harvest is warmed up on its
# own inputs and timed over several reps. Its reps still speed up rep by
# rep, so a run whose rep count followed the host's speed would shift its
# median: run_seconds is set below the time of MIN_REPS reps, which fixes
# the count.
WARM_UP_REPS = {"frontier_bulk": 0, "crawl_graph": 1, "harvest_docs": 1}
MIN_REPS = {"frontier_bulk": 1, "crawl_graph": 1, "harvest_docs": 3}

# per-layer metric -> (end-to-end metric it should move, workload). The
# crawl_graph workload runs from this script too but is not in
# BENCHMARK.json: its rounds cost ~15 s each on 4 cores, which the
# benchmark's run budget cannot fit beside the other two.
LAYER_TARGETS = {
    "session.start_s": ("setup_s", "all"),
    "session.warm_s": ("setup_s", "all"),
    "urlnorm.rows_per_s": ("wall_s", "frontier_bulk"),
    "parity.rows_per_s": ("wall_s", "frontier_bulk"),
    "frontier.plan_s": ("round_s.p50", "frontier_bulk"),
    "frontier.jobs_per_round": ("round_s.p50", "frontier_bulk"),
    "frontier.stages_per_round": ("round_s.p50", "frontier_bulk"),
    "frontier.exec_s": ("wall_s", "frontier_bulk"),
    "frontier.shuffle_bytes": ("wall_s", "frontier_bulk"),
    "frontier.spill_bytes": ("wall_s", "frontier_bulk"),
    "frontier.busy_frac": ("wall_s", "frontier_bulk"),
    "frontier.ckpt_s": ("wall_s", "crawl_graph"),
    "frontier.ckpt_bytes": ("wall_s", "crawl_graph"),
    "filters.probe_s": ("round_s.p50", "crawl_graph"),
    "filters.update_s": ("round_s.p50", "crawl_graph"),
    "filters.maybe_frac": ("round_s.p50", "crawl_graph"),
    "filters.fp_frac": ("round_s.p50", "crawl_graph"),
    "warc.records_per_s": ("pages_per_s", "harvest_docs"),
    "warc.truncated": ("pages_per_s", "harvest_docs"),
    "html.pages_per_s": ("pages_per_s", "harvest_docs"),
    "html.empty_frac": ("pages_per_s", "harvest_docs"),
    "spans.rows_per_s": ("pages_per_s", "harvest_docs"),
    "catalog.append_s": ("wall_s", "harvest_docs"),
    "catalog.bytes": ("wall_s", "harvest_docs"),
    "jvm.gc_s": ("wall_s", "all"),
    "trace.overhead_s": ("wall_s", "all"),
}


def _median(xs) -> float:
    return float(statistics.median(xs))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    return ap.parse_args(argv)


def _prepare_env(run_dir: pathlib.Path) -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the program."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def _inputs(workload: str, seed: int, scale: float) -> tuple[pathlib.Path, dict]:
    """Generated input files of (workload, seed, scale), built once per
    checkout and generator version: the generator is deterministic."""
    import gen

    version = hashlib.sha1(pathlib.Path(gen.__file__).read_bytes()).hexdigest()[:10]
    d = WORK / "inputs" / f"{workload}-s{seed}-x{scale:g}-{version}"
    props_file = d / "props.json"
    if not props_file.exists():
        shutil.rmtree(d, ignore_errors=True)
        part = d.with_name(d.name + f".part{os.getpid()}")
        gen.generate(workload, seed, part, scale)
        part.rename(d)
    return d, json.loads(props_file.read_text())


class Bench:
    def __init__(self, args, run_dir: pathlib.Path):
        import tracing

        self.args = args
        self.run_dir = run_dir
        self.cores = tracing.cpu_count()
        self.spark = None
        self.event_dir = run_dir / "eventlog"
        self.tracer = tracing.Tracer(enabled=bool(args.trace))
        self.setup_parts: list[tuple[float, float]] = []  # (start, warm) per set-up

    # ------------------------------------------------------------ session
    def start(self, cores: int):
        from cc_dbp_spark import session

        conf = {
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.local.dir": str(self.run_dir / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
        }
        if self.args.trace:
            self.event_dir.mkdir(exist_ok=True)
            conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": self.event_dir.as_uri()}
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench", cores=cores, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark

    def setup(self, in_dir, props) -> float:
        """Session start + worker-pool warm-up + input registration."""
        import workloads
        from cc_dbp_spark import session

        t0 = time.perf_counter()
        self.start(self.cores)
        t1 = time.perf_counter()
        with self.tracer.span("session.warm_python_worker_pool"):
            session.warm_python_worker_pool(self.spark)
        t2 = time.perf_counter()
        with self.tracer.span("inputs.register"):
            self.inputs = workloads.register(self.spark, in_dir, props)
        t3 = time.perf_counter()
        self.setup_parts.append((t1 - t0, t2 - t1))
        return t3 - t0

    def stop(self) -> None:
        """Stop the session; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # --------------------------------------------------------------- reps
    def make_rep(self):
        """The workload's rep as a no-argument callable; the oracle of a
        crawl workload is computed once here."""
        import workloads

        w = self.args.workload
        if w == "harvest_docs":
            return lambda: workloads.harvest_docs_rep(self.spark, self.inputs, self.ref, self.run_dir)
        fn = {"frontier_bulk": workloads.frontier_bulk_rep, "crawl_graph": workloads.crawl_graph_rep}[w]
        st = self.ref.oracle_state
        return lambda: fn(self.spark, self.inputs, self.ref, self.run_dir, st)

    def warm_up(self, n: int) -> list:
        """``n`` checked, untimed reps on the timed inputs: they warm the
        JVM (JIT, codegen) and the worker pool at full size. A crawl
        workload's is the oracle check of a crawl without a state dir."""
        import workloads
        from cc_dbp_spark import session

        reps = []
        for _ in range(n):
            if self.args.workload == "harvest_docs":
                reps.append(self.rep())
            else:
                reps.append(workloads.oracle_rep(self.spark, self.inputs, self.ref))
            session.clear_persisted(self.spark)
        return reps

    def measure(self, seconds: float, min_reps: int = 1) -> list:
        """Reps until ``seconds`` have passed and ``min_reps`` have run."""
        from cc_dbp_spark import session

        reps = []
        end = time.perf_counter() + seconds
        while len(reps) < min_reps or time.perf_counter() < end:
            reps.append(self.rep())
            session.clear_persisted(self.spark)
        return reps

    # ------------------------------------------------------------- traced
    def _wrap_layers(self) -> None:
        from cc_dbp_spark.operators import frontier, html, spans
        from cc_dbp_spark.sources import catalog, warc

        t = self.tracer
        t.wrap(frontier.CrawlDriver, "run", "frontier.CrawlDriver.run")
        t.wrap(frontier, "run_round", "frontier.run_round", "frontier.plan")
        t.wrap(frontier, "advance_round_state", "frontier.advance_round_state", "frontier.exec")
        t.wrap(frontier.CrawlDriver, "_ckpt", "frontier.CrawlDriver._ckpt", "frontier.ckpt")
        t.wrap(catalog.ParquetManifestTables, "append", "catalog.ParquetManifestTables.append",
               "catalog.append")
        # lazy plan builders: their spans cover plan construction only
        t.wrap(warc, "warc_records", "warc.warc_records")
        t.wrap(html, "html_to_documents", "html.html_to_documents")
        t.wrap(spans, "sort_spans", "spans.sort_spans")
        t.wrap(spans, "outlink_edges", "spans.outlink_edges")

    def traced(self) -> tuple[dict, list, dict]:
        """Per-layer metrics: an untraced rep, then a traced one (the
        tracing overhead is the difference; both run warm), the layer
        probes and, for ``frontier_bulk``, a re-run on one core. Returns
        (metrics, the checked reps it ran, notes)."""
        import probes
        import tracing
        import workloads
        from cc_dbp_spark import session

        t, sc = self.tracer, self.spark.sparkContext
        untraced = self.measure(0)
        self._wrap_layers()
        gc0 = tracing.jvm_gc_s(self.spark)
        traced = self.measure(0)
        gc_s = (tracing.jvm_gc_s(self.spark) - gc0) / len(traced)
        m = probes.url_layers(self.spark, self.inputs.candidates, t)
        m |= probes.filter_layer(self.spark, self.inputs.candidates, self.inputs.docs, t)
        m |= probes.harvest_layers(self.spark, self.inputs.dir / "warc", self.run_dir / "probe_catalog", t)
        crawled = traced
        if self.args.workload == "harvest_docs":  # its pipeline runs no frontier round
            with t.span("probe.frontier"):
                crawled = [workloads.crawl(self.spark, self.inputs, 1, self.run_dir / "probe_state")[0]]
        t.restore()

        plans = [tracing.duration(x) for x in t.find("frontier.run_round")]
        execs = [tracing.duration(x) for x in t.find("frontier.advance_round_state")]
        ckpts = [tracing.duration(x) for x in t.find("frontier.CrawlDriver._ckpt")]
        n_rounds = max(1, len(plans))
        groups = ("frontier.plan", "frontier.exec", "frontier.ckpt")
        counts = [tracing.group_counts(sc, g) for g in groups]
        wall_t, wall_u = traced[0].wall_s, untraced[0].wall_s
        notes = {"traced_wall_s": wall_t, "untraced_wall_s": wall_u}
        if self.args.workload == "frontier_bulk":
            self.stop()
            self.start(1)
            session.warm_python_worker_pool(self.spark)
            self.inputs = workloads.register(self.spark, self.inputs.dir, self.inputs.props)
            one = self.measure(0)
            traced = traced + one
            notes["wall_s_1core"] = one[0].wall_s
            notes["frontier.scaling_eff_1to4"] = one[0].wall_s / (self.cores * wall_u)
        self.stop()  # flushes the event log
        ev = tracing.read_event_log(self.event_dir)
        fr = [ev.get(g, {}) for g in groups]
        setups = self.setup_parts[:N_SETUPS]
        m |= {
            "session.start_s": (_median(x[0] for x in setups), "s"),
            "session.warm_s": (_median(x[1] for x in setups), "s"),
            "frontier.plan_s": (_median(plans or [0.0]), "s"),
            "frontier.jobs_per_round": (sum(j for j, _ in counts) / n_rounds, "count"),
            "frontier.stages_per_round": (sum(st for _, st in counts) / n_rounds, "count"),
            "frontier.exec_s": (_median(execs or [0.0]), "s"),
            "frontier.shuffle_bytes": (sum(g.get("shuffle_bytes", 0) for g in fr) / n_rounds, "bytes"),
            "frontier.spill_bytes": (sum(g.get("spill_bytes", 0) for g in fr) / n_rounds, "bytes"),
            "frontier.busy_frac": (fr[1].get("task_s", 0.0) / (self.cores * sum(execs)) if execs else 0.0,
                                   "ratio"),
            "frontier.ckpt_s": (_median(ckpts or [0.0]), "s"),
            "frontier.ckpt_bytes": (sum(r.detail.get("ckpt_bytes", 0) for r in crawled) / n_rounds, "bytes"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.overhead_s": (wall_t - wall_u, "s"),
        }
        m = {k: m[k] for k in LAYER_TARGETS}
        t.dump(WORK / "traces" / f"{self.args.workload}-s{self.args.seed}.json", {
            "metrics": m, "annotations": notes, "layer_targets": LAYER_TARGETS,
            "event_log_groups": ev,
        })
        return m, untraced + traced, notes


def end_to_end(reps, setups, rss_mb) -> dict:
    return {
        "setup_s": (_median(setups), "s"),
        "wall_s": (_median(r.wall_s for r in reps), "s"),
        "urls_per_s": (_median(r.urls / r.wall_s for r in reps), "1/s"),
        "pages_per_s": (_median(r.pages / r.wall_s for r in reps), "1/s"),
        "round_s.p50": (_median(x for r in reps for x in r.round_s), "s"),
        "round_s.max": (_median(max(r.round_s) for r in reps), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    import tracing
    import workloads  # fails here when the program is not in the checkout

    run_dir = WORK / f"run-{os.getpid()}"
    _prepare_env(run_dir)

    in_dir, props = _inputs(args.workload, args.seed, args.scale)
    b = Bench(args, run_dir)
    b.ref = workloads.Reference(in_dir, props)
    notes = {}
    try:
        setups = []
        for i in range(N_SETUPS):
            if i:
                b.stop()
            setups.append(b.setup(in_dir, props))
        b.rep = b.make_rep()
        t0 = time.perf_counter()
        # a traced run times no end-to-end reps: its untraced and traced
        # reps both run after a warm-up
        checks = b.warm_up(max(WARM_UP_REPS[args.workload], args.trace))
        t1 = time.perf_counter()
        if args.trace:
            metrics, reps, notes = b.traced()
        else:
            reps = b.measure(args.seconds, MIN_REPS[args.workload])
            rss = tracing.tree_peak_rss_mb(tracing.jvm_pid(b.spark))
            metrics = end_to_end(reps, setups, rss)
        phases = {"set-ups": sum(setups), "warm-up": t1 - t0, "timed": time.perf_counter() - t1}
    finally:
        b.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    checks += reps
    attempted = sum(r.attempted for r in checks)
    failed = sum(r.failed for r in checks)
    print(f"# {args.workload} seed={args.seed} cores={b.cores} setups={len(setups)} "
          f"{'traced run' if args.trace else 'timed'} reps={len(reps)} rounds={sum(len(r.round_s) for r in reps)} checked reps={len(checks)}")
    print("# phase seconds:", " ".join(f"{k}={v:.1f}" for k, v in phases.items()),
          "reps=" + ",".join(f"{r.wall_s:.2f}" for r in reps))
    for name, v in notes.items():
        print(f"# {name} = {v:.6g}")
    for name, (v, unit) in metrics.items():
        print(f"{name:28s} {v:14.6g} {unit}")
    problems = [r.detail for r in checks if r.failed]
    if problems:
        print("# failures:", json.dumps(problems)[:2000])
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
