"""The traced run: per-layer metrics of one workload.

Spans wrap the library's public stage functions, ``run_kg_pipeline``,
``kg_job.main``, ``StageRunner.run`` and the parquet writes ``StageRunner``
issues.  In-memory passes run one action per layer (annotate, triples,
entities, edges), each in its own job group; staged passes put every stage
write and lineage write in its own job group.  After the session stops, the
uncompressed event log gives each group's tasks and SQL metrics.  A
single-core kernel replay and, on ``unique_text``, a single-core run of the
job complete the set.
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import host
from spans import EventLog, Tracer, skew

KERNEL_DOCS = 150  # documents replayed on one core
STAGED_PASSES = 2  # kg_job.main passes in crawl_dup's traced run
STAGED_FIRST_PASS = 100  # their pass numbers, apart from the in-memory passes
KERNEL_STEPS = ("split", "tokenize", "morphology", "ner", "parse")
_STAGE_FUNCS = ("sentences_stage", "annotated_documents_stage", "annotate_stage",
                "mentions_stage", "triples_stage", "entities_stage", "edges_stage",
                "run_kg_pipeline")
HERE = os.path.dirname(os.path.abspath(__file__))


def _is_scan(node, detail):
    return node.startswith("Scan parquet")


def _is_python(node, detail):
    return node == "ArrowEvalPython"


def _is_shuffle(node, detail):
    return node == "Exchange" and "SinglePartition" not in detail


def instruments(tracer: Tracer) -> list[tuple]:
    from pyspark.sql.readwriter import DataFrameWriter
    from vnlp_spark.bin import kg_job
    from vnlp_spark.plans import lineage, pipeline

    def write_kind(path):
        parent, stage = os.path.split(os.path.normpath(path))
        return ("lineage" if os.path.basename(parent) == "_lineage" else "write"), stage

    def write_name(self, path, *a, **k):
        kind, stage = write_kind(path)
        return f"{kind}.{stage}"

    def write_group(self, path, *a, **k):
        pass_group = tracer.current_group()
        kind, stage = write_kind(path)
        return f"{pass_group}:{kind}:{stage}" if pass_group else None

    out = [(pipeline, fn, f"plans.pipeline.{fn}") for fn in _STAGE_FUNCS]
    out += [
        (kg_job, "main", "bin.kg_job.main"),
        (lineage.StageRunner, "run", lambda self, stage, *a, **k: f"StageRunner.run.{stage}"),
        (DataFrameWriter, "parquet", write_name, write_group),
    ]
    return out


def _pinned(cpu: int, *args) -> subprocess.Popen:
    return subprocess.Popen(["taskset", "-c", str(cpu), sys.executable, *args],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=os.path.dirname(HERE))


def _result(proc: subprocess.Popen, what: str) -> dict:
    try:
        out, err = proc.communicate(timeout=150)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError(f"{what} timed out")
    if proc.returncode != 0:
        raise RuntimeError(f"{what} failed: {err[-2000:]}")
    return json.loads(out.strip().splitlines()[-1])


def single_core_runs(run, wl, scaling: bool) -> tuple[dict, dict | None]:
    """The kernel replay and, if asked, the local[1] run of the same workload
    and seed, each in a fresh process pinned to its own core, side by side.

    The kernel replay covers the first KERNEL_DOCS pages of the workload."""
    docs = wl.corpus(1).tr_texts(KERNEL_DOCS)
    path = os.path.join(run.run_dir, "kernel_docs.txt")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(docs) + "\n")
    cpus = sorted(os.sched_getaffinity(0))
    kernel = _pinned(cpus[-1], os.path.join(HERE, "kernel_replay.py"), path)
    single = None
    if scaling:
        single = _pinned(cpus[-2] if len(cpus) > 1 else cpus[-1], os.path.join(HERE, "run.py"),
                         "--workload", run.args.workload, "--seed", str(run.args.seed),
                         "--seconds", "1", "--trace", "0", "--single-core")
    kernel_out = _result(kernel, "kernel replay")
    single_out = _result(single, "single-core run") if single else None
    if single_out is not None and not single_out["correct"]:
        run.problems.append("the single-core run failed its output checks")
    return kernel_out, single_out


def scaled_triples_per_s(run, spark, wl) -> float:
    """triples/s at local[n] over the input of the local[1] baseline."""
    import jobs

    small = jobs.Workload(spark, jobs.scaling_spec(wl.spec), run.args.seed, wl.work_dir, run.cores)
    input_dir, corpus = small.input_for(1)
    job_s, out = small.run_pass(input_dir, 1)
    try:
        check = small.check(out, corpus, None, full=False)
    finally:
        out.close()
        small.drop_input(input_dir)
    run.problems += [f"scaling pass: {p}" for p in check.problems]
    return check.triples / job_s


def measure(run, spark, wl, expected, session_start_s: float):
    """Run the passes now; return a function that computes the metrics once
    the session has stopped and its event log is complete."""
    import jobs

    tracer = Tracer(spark.sparkContext,
                    probe=lambda: host.workers_cpu_s(host.python_workers()))
    tracer.instruments = instruments(tracer)
    notes = run.report["notes"]
    dedup: dict = {}

    def keep(out, input_dir, pass_no):
        from pyspark.sql import functions as F

        if pass_no >= STAGED_FIRST_PASS:
            return {"resume_s": staged.resume(input_dir, pass_no)}
        if "dedup_ratio" not in dedup:  # a property of the input, the same every pass
            row = out.annotated.agg(F.count_distinct("sentence"), F.count(F.lit(1))).collect()[0]
            dedup["dedup_ratio"] = row[0] / row[1] if row[1] else 0.0
        return dict(dedup)

    untraced = run.measure(wl, expected, tracer=tracer, keep=keep)
    staged = None
    if wl.spec.name == "crawl_dup":
        staged = jobs.Workload(spark, jobs.STAGED, run.args.seed, wl.work_dir, run.cores)
        input_dir, _ = staged.input_for("warm")
        staged.run_pass(input_dir, "warm")[1].close()  # untimed warm pass
        staged_expected = jobs.recorded_digest(jobs.STAGED.name, run.args.seed)
        if staged_expected is None:
            run.problems.append(f"no digest recorded for {jobs.STAGED.name} seed {run.args.seed}")
        for i in range(STAGED_PASSES):
            run.do_pass(staged, STAGED_FIRST_PASS + i, staged_expected, tracer, keep)
    else:
        notes["lineage.*"] = "measured in crawl_dup's traced run (kg_job.main over the staged_job input)"
    t0 = time.monotonic()
    kernel, single = single_core_runs(run, wl, scaling=wl.spec.name == "unique_text")
    print(f"[kgbench] single-core processes: {time.monotonic() - t0:.1f}s", file=sys.stderr)
    eff = 0.0
    if single is not None:
        eff = scaled_triples_per_s(run, spark, wl) / (
            run.cores * single["metrics"]["triples_per_s"]["value"])
    else:
        notes["scaling.eff_1_to_n"] = "measured in unique_text's traced run"

    def finish() -> dict:
        el = EventLog(os.path.join(run.run_dir, "eventlog"))
        traced = [r for r in run.report["passes"]
                  if r["traced"] and r["pass"] < STAGED_FIRST_PASS]
        staged_recs = [r for r in run.report["passes"] if r["pass"] >= STAGED_FIRST_PASS]
        metrics = _median_of([layer_metrics(el, tracer, r) for r in traced])
        if staged_recs:
            metrics.update(_median_of([lineage_metrics(el, tracer, r) for r in staged_recs]))
        else:
            metrics.update(dict.fromkeys(LINEAGE_METRICS, 0.0))
        metrics["session.start_s"] = session_start_s
        metrics["session.py_worker_start_s"] = (
            el.sql_sum(["warmup"], "time to start Python workers", _is_python)
            + el.sql_sum(["warmup"], "time to initialize Python workers", _is_python)) / 1000.0
        for step in KERNEL_STEPS:
            for temp in ("cold", "warm"):
                metrics[f"kernel.{step}.ms_per_sentence.{temp}"] = kernel[f"{step}.{temp}"]
        metrics["kernel.morphology.new_keys_per_token"] = kernel["new_keys_per_token"] or 0.0
        metrics["host.nproc"] = host.nproc()
        metrics["host.steal_frac"] = run.steal.read()
        metrics["trace.overhead_frac"] = (
            statistics.median(r["job_s"] for r in traced)
            / statistics.median(r["job_s"] for r in untraced) - 1.0)
        metrics["scaling.eff_1_to_n"] = eff
        run.report["spans_self_s"] = tracer.self_times()
        run.report["kernel"] = kernel
        for name in sorted(notes):
            print(f"[kgbench] not measured here: {name}: {notes[name]}", file=sys.stderr)
        return {name: {"value": float(v), "unit": UNITS[name]} for name, v in sorted(metrics.items())}

    return finish


def _median_of(per_pass: list[dict]) -> dict:
    return {name: statistics.median(p[name] for p in per_pass) for name in per_pass[0]}


def _pass_groups(el: EventLog, k: int) -> set:
    return {t["group"] for t in el.tasks
            if t["group"] and (t["group"] == f"p{k}" or t["group"].startswith(f"p{k}:"))}


def layer_metrics(el: EventLog, tracer: Tracer, rec: dict) -> dict:
    """Per-layer metrics of one traced in-memory pass (one action per layer)."""
    k = rec["pass"]
    g = lambda layer: [f"p{k}:{layer}"]  # noqa: E731
    annotate = g("annotate")
    tasks = el.tasks_of(_pass_groups(el, k))
    scan_tasks = [t for t in el.tasks_of(annotate) if t["input_bytes"] > 0]
    annotate_stages: dict[int, list] = {}
    for t in el.tasks_of(annotate):
        if "ArrowEvalPython" in el.stage_scopes.get(t["stage"], ()):
            annotate_stages.setdefault(t["stage"], []).append(t["run_ms"])
    busiest = max(annotate_stages.values(), key=sum, default=[])
    rows = dict(part.split("=", 1) for part in rec["digest"].split())
    return {
        "session.speculative_task_frac": sum(t["speculative"] for t in tasks) / max(len(tasks), 1),
        "session.jvm_gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "scan.s": el.sql_sum(annotate, "scan time", _is_scan) / 1000.0,
        "scan.input_bytes": sum(t["input_bytes"] for t in scan_tasks),
        "scan.tasks": len(scan_tasks),
        "annotate.s": tracer.group_wall(annotate),
        "annotate.py_run_s": el.sql_sum(annotate, "time to run Python workers", _is_python) / 1000.0,
        "annotate.py_cpu_s": tracer.group_probe(annotate),
        "annotate.arrow_bytes_sent": el.sql_sum(annotate, "data sent to Python workers", _is_python),
        "annotate.arrow_bytes_returned": el.sql_sum(annotate, "data returned from Python workers",
                                                    _is_python),
        "annotate.rows": el.sql_sum(annotate, "number of output rows",
                                    lambda n, d: n == "ArrowEvalPython" and "_annotate_" in d),
        "annotate.task_skew": skew(busiest),
        "annotate.dedup_ratio": rec["dedup_ratio"],
        "dedup.shuffle_bytes": el.sql_sum(annotate, "shuffle bytes written", _is_shuffle),
        "triples.s": tracer.group_wall(g("triples")),
        "triples.rows": int(rows["triples"].split(":")[0]),
        "entities.s": tracer.group_wall(g("entities")),
        "entities.shuffle_bytes": el.sql_sum(g("entities"), "shuffle bytes written", _is_shuffle),
        "edges.s": tracer.group_wall(g("edges")),
        "edges.rows": int(rows["edges"].split(":")[0]),
    }


LINEAGE_METRICS = ("lineage.job_s", "lineage.write_s", "lineage.bytes_written",
                   "lineage.checksum_s", "lineage.resume_s")


def lineage_metrics(el: EventLog, tracer: Tracer, rec: dict) -> dict:
    """plans.lineage metrics of one traced kg_job.main pass."""
    groups = _pass_groups(el, rec["pass"])
    return {
        "lineage.job_s": rec["job_s"],
        "lineage.write_s": tracer.group_wall(g for g in groups if ":write:" in g),
        "lineage.bytes_written": sum(t["output_bytes"] for t in el.tasks_of(groups)),
        "lineage.checksum_s": tracer.group_wall(g for g in groups if ":lineage:" in g),
        "lineage.resume_s": rec["resume_s"],
    }


UNITS = {
    "session.start_s": "s",
    "session.py_worker_start_s": "s",
    "session.speculative_task_frac": "ratio",
    "session.jvm_gc_s": "s",
    "scan.s": "s",
    "scan.input_bytes": "bytes",
    "scan.tasks": "count",
    **{f"kernel.{step}.ms_per_sentence.{temp}": "ms"
       for step in KERNEL_STEPS for temp in ("cold", "warm")},
    "kernel.morphology.new_keys_per_token": "ratio",
    "annotate.s": "s",
    "annotate.py_run_s": "s",
    "annotate.py_cpu_s": "s",
    "annotate.arrow_bytes_sent": "bytes",
    "annotate.arrow_bytes_returned": "bytes",
    "annotate.rows": "count",
    "annotate.task_skew": "ratio",
    "annotate.dedup_ratio": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "triples.s": "s",
    "triples.rows": "count",
    "entities.s": "s",
    "entities.shuffle_bytes": "bytes",
    "edges.s": "s",
    "edges.rows": "count",
    "lineage.job_s": "s",
    "lineage.write_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.checksum_s": "s",
    "lineage.resume_s": "s",
    "host.nproc": "count",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "scaling.eff_1_to_n": "ratio",
}
