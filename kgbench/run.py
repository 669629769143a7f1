"""KG-job benchmark: one run of one workload.

    python3 kgbench/run.py --workload crawl_dup --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up starts a Spark session at
``local[nproc]`` through ``vnlp_spark.session.get_spark`` and runs the
workload's job once over one small document per core, which starts the
Python workers with their lexicons loaded.  The run then writes the seeded
input to parquet, runs ``WARM_PASSES`` untimed warm passes (the JVM keeps
compiling for several passes) and then timed passes until ``--seconds`` of
job time are spent (at least ``MIN_PASSES``).  Every timed pass's outputs
are checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes with Spark's event log on and prints the
per-layer metrics.  The last line of standard output is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; logs go to
standard error, and a fuller report (passes, spans, notes) is written to
``.bench_out/reports/``.  ``kgbench/README.md`` defines the metrics.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import clear_job_group  # noqa: E402

T_PROCESS = host.process_start_monotonic()
WARM_PASSES = 2  # one in traced and single-core runs, which must end within 180 s
MIN_PASSES = 3
MIN_TRACED_PASSES = 2  # of each kind in a traced run
MAX_PASSES = 40


def log(*parts):
    print("[kgbench]", *parts, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="KG-job benchmark: one run of one workload")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the traced run's scaling baseline: local[1] over a quarter of the input,
    # no warm-up action, one timed pass, counts checked (no digest recorded
    # for that size)
    p.add_argument("--single-core", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def prepare_env(run_dir: str):
    """Workers must import vnlp_spark; scratch files stay in the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)


def start_spark(cores: int, extra_conf: dict):
    from vnlp_spark.session import get_spark

    return get_spark("kgbench", cores=cores, extra_conf=extra_conf)


def stop_spark(spark):
    """Stop the session, then the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    workers = host.python_workers()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


class Run:
    """The passes of one run and what they found."""

    def __init__(self, args, run_dir: str, cores: int):
        self.args = args
        self.run_dir = run_dir
        self.cores = cores
        self.steal = host.StealMeter()
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "cores": cores,
                             "nproc": host.nproc(), "passes": [], "notes": {}}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def do_pass(self, wl, pass_no: int, expected, tracer=None, keep=None,
                last=lambda rec: True) -> dict:
        """Write the input (untimed), run the job (timed), check (untimed).
        The full check runs on traced passes and on the pass ``last`` picks."""
        input_dir, corpus = wl.input_for(pass_no)
        if tracer is None:
            job_s, out = wl.run_pass(input_dir, pass_no)
        else:
            with tracer.instrumented(), tracer.span("pass", group=f"p{pass_no}"):
                job_s, out = wl.run_pass(input_dir, pass_no, tracer)
        rec = {"pass": pass_no, "traced": tracer is not None, "job_s": job_s,
               "rss_mb": host.workers_peak_rss_mb(host.python_workers())}
        rec["last"] = last(rec)
        try:
            full = tracer is not None or (rec["last"] and not self.args.single_core)
            check = wl.check(out, corpus, expected, full=full)
            if keep and tracer:
                rec.update(keep(out, input_dir, pass_no))
        finally:
            out.close()
            wl.drop_input(input_dir)
        rec.update(sentences=check.sentences, failed=check.failed, triples=check.triples,
                   digest=check.digest)
        self.report["passes"].append(rec)
        self.problems += [f"pass {pass_no}: {p}" for p in check.problems]
        self.attempted += check.sentences
        self.failed += check.failed
        log(f"pass {pass_no}{' traced' if tracer else ''}: {job_s:.3f}s, {check.triples} triples, "
            f"{check.sentences} sentences, {check.failed} failed"
            + (", outputs checked" if check.digest else ""))
        return rec

    def measure(self, wl, expected, tracer=None, keep=None) -> list[dict]:
        """Untimed warm passes, then timed passes until the job time reaches
        --seconds; in a traced run untraced and traced passes alternate.
        Returns the untraced passes."""
        full_run = tracer is None and not self.args.single_core
        for i in range(WARM_PASSES if full_run else 1):
            input_dir, _ = wl.input_for(f"warm{i}")
            t0 = time.monotonic()
            wl.run_pass(input_dir, f"warm{i}")[1].close()
            wl.drop_input(input_dir)
            log(f"warm pass: {time.monotonic() - t0:.3f}s")
        state = {"spent": 0.0, False: 0, True: 0}

        def last(rec):
            state["spent"] += rec["job_s"]
            state[rec["traced"]] += 1
            if tracer:
                return (state["spent"] >= self.args.seconds
                        and min(state[False], state[True]) >= MIN_TRACED_PASSES)
            return state["spent"] >= self.args.seconds and state[False] >= (
                1 if self.args.single_core else MIN_PASSES)

        for pass_no in range(1, MAX_PASSES + 1):
            traced = tracer is not None and pass_no % 2 == 0
            rec = self.do_pass(wl, pass_no, expected, tracer if traced else None, keep,
                               last=lambda rec: last(rec) or pass_no == MAX_PASSES)
            if rec["last"]:
                break
        return [r for r in self.report["passes"] if not r["traced"]]


def end_to_end(setup_s: float, untraced: list[dict]) -> dict:
    med = statistics.median
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "job_s": {"value": med(r["job_s"] for r in untraced), "unit": "s"},
        "triples_per_s": {"value": med(r["triples"] / r["job_s"] for r in untraced),
                          "unit": "1/s"},
        "py_worker_peak_rss_mb": {"value": med(r["rss_mb"] for r in untraced), "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vnlp_spark")):
        log(f"vnlp_spark not found beside {HERE}; run from a full checkout")
        return 2
    import jobs

    if args.workload not in jobs.SPECS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(jobs.SPECS)}")
        return 2
    run_dir = os.path.join(ROOT, ".bench_out",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    try:
        return execute(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def execute(args, run_dir: str) -> int:
    import jobs

    cores = 1 if args.single_core else host.nproc()
    run = Run(args, run_dir, cores)
    conf = {}
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog")}
    spark = start_spark(cores, conf)
    session_s = time.monotonic() - T_PROCESS
    spec = jobs.SPECS[args.workload]
    expected = None
    if args.single_core:
        spec = jobs.scaling_spec(spec)
    else:
        expected = jobs.recorded_digest(args.workload, args.seed)
        if expected is None:
            run.problems.append(f"no digest recorded for {args.workload} seed {args.seed}")
    wl = jobs.Workload(spark, spec, args.seed, os.path.join(run_dir, "work"), cores)
    try:
        if not args.single_core:
            spark.sparkContext.setJobGroup("warmup", "start Python workers")
            wl.warm_up(os.path.join(run_dir, "warmup"))
            clear_job_group(spark.sparkContext)
        setup_s = time.monotonic() - T_PROCESS
        run.report.update(setup_s=setup_s, session_s=session_s)
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s) at local[{cores}]")
        if args.trace:
            import traced

            finish = traced.measure(run, spark, wl, expected, session_s)
        else:
            untraced = run.measure(wl, expected)
    finally:
        stop_spark(spark)
    metrics = finish() if args.trace else end_to_end(setup_s, untraced)
    run.report.update(steal_frac=run.steal.read(), problems=run.problems, metrics=metrics)
    reports = os.path.join(ROOT, ".bench_out", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}{'-1core' if args.single_core else ''}"
    with open(os.path.join(reports, name + ".json"), "w") as f:
        json.dump(run.report, f, indent=1, default=str)
    for p in run.problems:
        log("CHECK FAILED:", p)
    log(f"nproc {host.nproc()}, cpu steal {run.report['steal_frac']:.4f}")
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
