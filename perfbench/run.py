#!/usr/bin/env python3
"""Benchmark entry point: one workload, one closed loop, one client.

    python3 perfbench/run.py --workload topn_job --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --all            # every workload, a summary table

A run generates its fixture from ``--seed`` (untimed, before any JVM
exists), sets up a fresh session three times (``setup_s`` is the
median), runs one cold iteration on the last session, checks the
answer once untimed, then repeats the batch job back to back: a fixed number of
warm-up iterations, then measured ones for ``--seconds`` and at least
a fixed number of times (both counts set per workload). Every
iteration's output is checked against the answer; an exception, a
mismatch or an overrun of the per-iteration budget counts as a failed
iteration and the run goes on.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that alternates untraced and traced iterations, records
spans at each layer boundary the harness calls, reads per-stage
executor metrics from the status store, writes the final plans under
``perfbench/plans/`` and reports the per-layer metrics. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager, redirect_stdout
from io import StringIO

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    STAGE_KEYS,
    JvmThreadCpu,
    ProcTree,
    Tracer,
    descendants,
    host_steal,
    jobs_for_group,
    percentile,
    persistent_rdds,
    read_proc,
    self_time,
    stage_metrics,
    storage_info,
)
from perfbench.workloads import HEADLINE, WORKLOADS, CheckFailed  # noqa: E402

SETUPS = 3            # set-ups per untraced run; setup_s is their median
MIN_STEADY = 5        # fewer successful measured iterations make the
                      # run incorrect
ITER_BUDGET_S = 30.0  # wall budget per iteration; an overrun is a failure

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s_p50": "s", "rows_per_s": "rows/s",
    "cpu_s": "s",
}

STAGE_LAYER = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("stage_skew_max", "ratio"),
)
PER_LAYER = {
    "session.create_s": "s", "session.jit_cpu_s": "s", "session.gc_cpu_s": "s",
    "session.jit_cpu_iter_s": "s", "session.peak_rss_mb": "MB",
    "config.load_s": "s",
    "plans.builder.plan_s": "s", "plans.builder.eager_jobs": "count",
    "plans.builder.action_s": "s",
    **{f"operators.{k}": u for k, u in STAGE_LAYER},
    "operators._cache.cached_relations": "count",
    "operators._cache.cached_bytes": "bytes",
    "operators._cache.leaked_after_release": "count",
    "io.sources.input_bytes": "bytes", "io.sources.input_rows": "rows",
    "io.sinks.write_s": "s", "io.sinks.bytes_written": "bytes",
    "io.sinks.files_written": "count", "io.sinks.write_amp": "files/partition",
    "functions.python_worker_cpu_s": "s",
    **{f"queries.{q}.{k}": "s" for q in HEADLINE for k in ("plan_s", "wall_s")},
    "trace.overhead_frac": "frac",
}


def _median(xs: list[float]) -> float | None:
    """The median, or None (printed as null) for no samples: a metric
    that was not measured is never reported as 0."""
    return statistics.median(xs) if xs else None


def _teardown(spark) -> None:
    """Stop the session and its JVM, and wait for both the JVM and
    its Python workers to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = [p for p in descendants(os.getpid(), read_proc()) if p != os.getpid()]
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


class Run:
    """One measured run of one workload; also the iteration context
    the workloads call back into (``span``, ``phase``, ``scope``,
    ``after_action``)."""

    def __init__(self, wl, seed: int, seconds: float, trace: bool, work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.tree = ProcTree()
        self.threads = JvmThreadCpu()
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.iteration = "setup"
        self.traced_now = trace
        self.records: list[dict] = []
        self.cur: dict = {}
        self.errors: list[str] = []

    # -- iteration context --------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name)

    @contextmanager
    def phase(self, name: str):
        """Tag the Spark jobs started inside with ``<iteration>:<name>``
        (traced iterations only)."""
        if self.traced_now and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{self.iteration}:{name}", name)
        yield

    @contextmanager
    def scope(self):
        """The package's cache scope; counts persisted RDDs still
        registered after it exits."""
        from top_produce_etl_spark.plans.builder import pipeline_session

        with self.span("operators._cache.pipeline_session"), pipeline_session():
            yield
        if self.traced_now and self.spark is not None:
            self.cur["leaked"] = max(
                self.cur.get("leaked", 0), persistent_rdds(self.spark.sparkContext)
            )

    def after_action(self) -> None:
        """Record the cached relations right after the terminal action,
        while the cache scope still holds them."""
        if self.traced_now and self.spark is not None:
            rel, nbytes = storage_info(self.spark.sparkContext)
            self.cur["cached_relations"] = max(self.cur.get("cached_relations", 0), rel)
            self.cur["cached_bytes"] = max(self.cur.get("cached_bytes", 0), nbytes)

    # -- set-up ---------------------------------------------------------------

    def setup(self):
        from top_produce_etl_spark.session import create_spark_session

        t0 = time.monotonic()
        with self.span("session.create_spark_session"):
            spark = create_spark_session(
                f"perfbench-{self.wl.name}",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        created = time.monotonic() - t0
        with self.span("io.sources.register"):
            self.wl.register(spark, self)
        wall = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        return spark, wall, created

    def _install_layer_spans(self) -> None:
        """Span the builder's calls into io.sources and io.sinks, and
        move the jobs of the sink write into the action phase."""
        import top_produce_etl_spark.plans.builder as builder

        read, write = builder.read_table, builder.write_table

        def read_table(*a, **k):
            with self.span("io.sources.read_table"):
                return read(*a, **k)

        def write_table(*a, **k):
            with self.phase("action"), self.span("io.sinks.write_table"):
                return write(*a, **k)

        builder.read_table, builder.write_table = read_table, write_table

    # -- iterations -----------------------------------------------------------

    def iterate(self, label: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        self.iteration = self.tracer.iteration = label
        self.traced_now = self.tracer.enabled = traced
        rec: dict = {"label": label, "traced": traced}
        self.cur = rec
        tag = f"perfbench-{label}"
        done, overran = threading.Event(), threading.Event()

        def watchdog():
            if done.wait(ITER_BUDGET_S):
                return
            overran.set()
            while True:
                sc.cancelJobsWithTag(tag)
                if done.wait(0.5):
                    return

        dog = threading.Thread(target=watchdog, daemon=True)
        sc.addJobTag(tag)
        if traced:
            w0 = self.tree.worker_cpu_s()
        gc0, jit0 = self.threads.sample()
        c0 = self.tree.cpu_s()
        steal0, total0 = host_steal()
        dog.start()
        t0 = time.monotonic()
        observed = None
        try:
            with self.span("iteration"):
                observed = self.wl.iterate(self.spark, self)
        except Exception as e:  # noqa: BLE001 - a failed iteration, not a failed run
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["wall"] = time.monotonic() - t0
        done.set()
        dog.join()
        sc.removeJobTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["cpu"] = self.tree.cpu_s() - c0
        steal1, total1 = host_steal()
        # the share of the VM's CPU time the hypervisor gave to other
        # guests: printed per iteration, to tell host noise apart
        rec["steal"] = (steal1 - steal0) / max(total1 - total0, 1)
        gc, jit = self.threads.sample()
        rec["gc"], rec["jit"] = gc - gc0, jit - jit0
        self.tree.peak_rss_mb()
        if overran.is_set() or rec["wall"] > ITER_BUDGET_S:
            rec["error"] = f"timeout: {rec['wall']:.1f} s > {ITER_BUDGET_S} s budget"
        if traced:
            rec["worker_cpu"] = self.tree.worker_cpu_s() - w0
            plan_jobs = jobs_for_group(sc, f"{label}:plan")
            action_jobs = jobs_for_group(sc, f"{label}:action")
            rec["eager_jobs"] = len(plan_jobs)
            rec["stages"] = stage_metrics(sc, sorted(set(plan_jobs + action_jobs)))
        if "error" not in rec:
            if label == "cold":  # checked once the answer exists
                rec["observed"] = observed
            else:
                try:
                    self.wl.check(observed)
                except CheckFailed as e:
                    rec["error"] = f"check: {e}"
        self.records.append(rec)
        return rec

    # -- the run --------------------------------------------------------------

    def measure(self) -> dict:
        self.wl.prepare(self.work, self.seed)
        setups, created = [], []
        for i in range(1 if self.trace else SETUPS):
            spark, wall, made = self.setup()
            setups.append(wall)
            created.append(made)
            if i < (0 if self.trace else SETUPS - 1):
                _teardown(spark)
        self.spark = spark
        if self.trace:
            self._install_layer_spans()

        cold = self.iterate("cold", self.trace)
        jit_cpu = self.threads.sample()[1] if self.trace else 0.0
        self.tracer.iteration = self.iteration = "reference"
        self.traced_now = False
        try:
            self.wl.reference(self.spark, self)
        except CheckFailed as e:
            self.errors.append(f"reference: {e}")
        if "observed" in cold and not self.errors:
            try:
                self.wl.check(cold.pop("observed"))
            except CheckFailed as e:
                cold["error"] = f"check: {e}"

        # the JIT compiles by invocation counts, so warm-up is a count,
        # not a time: on a slow host a timed warm-up ends earlier on the
        # curve
        for i in range(self.wl.warm_iterations):
            self.iterate(f"warm{i}", False)
        deadline = time.monotonic() + self.seconds
        need = 2 * MIN_STEADY if self.trace else self.wl.min_measured
        i = 0
        while time.monotonic() < deadline or i < need:
            self.iterate(f"it{i}", self.trace and i % 2 == 1)
            i += 1

        out = {"setups": setups, "peak_rss_mb": self.tree.peak_rss_mb()}
        if self.trace:
            out["layers"] = self.layers(created[0], jit_cpu)
            out["layers"]["session.peak_rss_mb"] = out["peak_rss_mb"]
        _teardown(self.spark)
        self.spark = None
        return out

    # -- metrics --------------------------------------------------------------

    def samples(self) -> tuple[list[dict], list[dict]]:
        """The successful measured iterations: (untraced, traced)."""
        ok = [r for r in self.records if r["label"].startswith("it") and "error" not in r]
        return [r for r in ok if not r["traced"]], [r for r in ok if r["traced"]]

    def enough(self) -> bool:
        """At least MIN_STEADY successful measured iterations (and as
        many traced ones in a traced run). With fewer the medians rest
        on too little, so the run is not correct even if every failure
        was counted."""
        plain, traced = self.samples()
        return len(plain) >= MIN_STEADY and (not self.trace or len(traced) >= MIN_STEADY)

    def end_to_end(self, out: dict) -> tuple[dict[str, float | None], int]:
        steady = self.samples()[0]
        cold = self.records[0]
        p50 = percentile([r["wall"] for r in steady], 50)
        return {
            "setup_s": _median(out["setups"]),
            "cold_s": None if "error" in cold else cold["wall"],
            "wall_s_p50": p50.value if p50.n else None,
            "rows_per_s": self.wl.input_rows / p50.value if p50.n else None,
            "cpu_s": _median([r["cpu"] for r in steady]),
        }, p50.n

    def layers(self, create_s: float, jit_cpu: float) -> dict[str, float | None]:
        plain, traced = self.samples()
        if not (plain and traced):  # nothing to measure, and no metric reads 0
            return dict.fromkeys(PER_LAYER)
        tr = self.tracer
        m = dict.fromkeys(PER_LAYER, 0.0)

        def med(f) -> float | None:
            return _median([f(r) for r in traced])

        def spans(r, prefix):
            return [s for s in tr.spans if s.iteration == r["label"] and s.name.startswith(prefix)]

        def plan_s(r):
            total = 0.0
            for s in tr.spans:
                if s.iteration == r["label"] and s.name.startswith(("plans.builder.", "queries.")) \
                        and not s.name.endswith(".wall"):
                    total += self_time(s, [c for c in tr.children(s) if c.name.startswith("io.sinks.")])
            return total

        m["session.create_s"] = create_s
        m["session.jit_cpu_s"] = jit_cpu
        m["session.gc_cpu_s"] = med(lambda r: r["gc"])
        m["session.jit_cpu_iter_s"] = med(lambda r: r["jit"])
        m["config.load_s"] = sum(
            s.end - s.start for s in tr.spans
            if s.iteration == "setup" and s.name.startswith("config.")
        )
        m["plans.builder.plan_s"] = med(plan_s)
        m["plans.builder.eager_jobs"] = med(lambda r: r["eager_jobs"])
        m["plans.builder.action_s"] = med(
            lambda r: sum(s.end - s.start for s in spans(r, "io.sinks.")))
        for k in STAGE_KEYS:
            layer = "io.sources" if k.startswith("input_") else "operators"
            m[f"{layer}.{k}"] = med(lambda r: r["stages"][k])
        m["operators._cache.cached_relations"] = med(lambda r: r.get("cached_relations", 0))
        m["operators._cache.cached_bytes"] = med(lambda r: r.get("cached_bytes", 0))
        m["operators._cache.leaked_after_release"] = max(
            [r.get("leaked", 0) for r in traced] or [0])
        m["functions.python_worker_cpu_s"] = med(lambda r: r["worker_cpu"])
        m["trace.overhead_frac"] = (
            _median([r["wall"] for r in traced]) / _median([r["wall"] for r in plain]) - 1
        )

        sink = self.wl.sink_files()
        if sink:
            m["io.sinks.write_s"] = med(
                lambda r: sum(s.end - s.start for s in spans(r, "io.sinks.write_table")))
            sizes, dirs = [], set()
            for d, _, files in os.walk(sink):
                for f in files:
                    if not f.startswith(("_", ".")):
                        sizes.append(os.path.getsize(os.path.join(d, f)))
                        dirs.add(d)
            m["io.sinks.bytes_written"] = float(sum(sizes))
            m["io.sinks.files_written"] = float(len(sizes))
            m["io.sinks.write_amp"] = len(sizes) / max(len(dirs), 1)

        # per-query spans: "queries.<q>" builds the plan, "queries.<q>.wall"
        # covers plan, action and cache release
        labels = {r["label"] for r in traced}
        for name in sorted({s.name for s in tr.spans
                            if s.iteration in labels and s.name.startswith("queries.")}):
            key = f"{name[:-5]}.wall_s" if name.endswith(".wall") else f"{name}.plan_s"
            m[key] = med(lambda r: sum(
                s.end - s.start for s in spans(r, name) if s.name == name))

        self.write_plans()
        tr.dump(os.path.join(HERE, "out", f"{self.wl.name}-seed{self.seed}-spans.json"))
        return m

    def write_plans(self) -> None:
        """``explain("formatted")`` of each final DataFrame, with
        run-specific paths, expression ids and lambda variable numbers
        normalized so that two commits' plans diff cleanly."""
        self.tracer.iteration = self.iteration = "plans"
        self.traced_now = False
        out_dir = os.path.join(HERE, "plans", self.wl.name)
        os.makedirs(out_dir, exist_ok=True)
        with self.scope():
            for name, df in self.wl.plans(self.spark, self).items():
                buf = StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                text = buf.getvalue().replace(self.work, "<work>")
                text = re.sub(r"#\d+", "#N", text)
                text = re.sub(r"plan_id=\d+", "plan_id=N", text)
                # lambda variables are numbered across the session
                text = re.sub(r"(lambda \w+?)_\d+#", r"\1_N#", text)
                with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                    f.write(text)


def _configure_env(work: str) -> None:
    """Inputs, spill, temp files and worker imports all stay inside
    the checkout's work directory. The JVMs (the launcher and the
    driver) keep their temp files there too, and write no perf-data
    file under /tmp."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = None  # re-read TMPDIR on next use


def run_one(args) -> int:
    wl = WORKLOADS[args.workload](ROOT)
    base = os.path.join(HERE, "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    _configure_env(work)
    run = Run(wl, args.seed, args.seconds, bool(args.trace), work)
    try:
        out = run.measure()
    finally:
        if run.spark is not None:
            _teardown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.records)
    failed = sum("error" in r for r in run.records)
    if run.errors:  # no verified answer: no iteration can count as correct
        failed = attempted
    for r in run.records:
        if "error" in r:
            print(f"# {r['label']}: {r['error']}")
    for e in run.errors:
        print(f"# {e}")
    e2e, n = run.end_to_end(out)
    n_traced = len(run.samples()[1])
    metrics = out["layers"] if args.trace else e2e
    units = dict(END_TO_END, **PER_LAYER)
    print(f"# {wl.name} seed={args.seed} input_rows={wl.input_rows} "
          f"iterations={attempted} steady_samples={n} traced_samples={n_traced} "
          f"trace={args.trace} setups={[round(s, 3) for s in out['setups']]}")
    print("# wall/cpu/steal% " + " ".join(
        f"{r['label']}:{r['wall']:.2f}/{r['cpu']:.1f}/{100 * r['steal']:.0f}" for r in run.records))
    for k, v in metrics.items():
        print(f"{k:45s} {'n/a' if v is None else f'{v:.6f}':>16s} {units[k]}")
    print(f"{'failed_frac':45s} {failed / max(attempted, 1):16.6f} frac")
    print(f"{'peak_rss_mb':45s} {out['peak_rss_mb']:16.6f} MB (JVM + workers VmHWM)")
    print(json.dumps({
        "correct": failed == 0 and run.enough(),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, untraced: each one's metric
    lines, with ``failed_frac`` and peak RSS. Fails if any run fails
    or is not correct."""
    rc = 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{name}: rc={p.returncode}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} ({res['failed']} of "
              f"{res['attempted']} iterations failed)")
        for line in lines[:-1]:
            if not line.startswith("#"):
                print(f"  {line}")
        rc |= not res["correct"]
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "top_produce_etl_spark")):
        print("perfbench: the top_produce_etl_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload is required without --all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
