"""Record the output digest of every workload variant into digests.json.

    python3 kgbench/record.py [WORKLOAD ...]

Runs one pass of each workload (and of the staged ``kg_job.main`` job
of ``crawl_dup``'s traced run) for each of the ``N_VARIANTS`` sentence
draws (seeds 0 .. N_VARIANTS-1) and stores the digest of its triples,
entities and edges.  Re-record only when a change to the library is meant
to change its outputs, and say so in that change.
"""
from __future__ import annotations

import json
import os
import shutil
import sys

import run as R

import host
import jobs
import workload as W


def main(names) -> int:
    run_dir = os.path.join(R.ROOT, ".bench_out", f"record-{os.getpid()}")
    R.prepare_env(run_dir)
    table = {}
    if os.path.exists(jobs._DIGESTS):
        with open(jobs._DIGESTS, encoding="utf-8") as f:
            table = json.load(f)
    cores = host.nproc()
    spark = R.start_spark(cores, {})
    try:
        for name in names:
            spec = jobs.RECORDED[name]
            for variant in range(W.N_VARIANTS):
                wl = jobs.Workload(spark, spec, variant, os.path.join(run_dir, "work"), cores)
                input_dir, corpus = wl.input_for(1)
                job_s, out = wl.run_pass(input_dir, 1)
                try:
                    check = wl.check(out, corpus, None, full=True)
                finally:
                    out.close()
                    wl.drop_input(input_dir)
                if check.problems or check.failed:
                    raise RuntimeError(f"{name} seed {variant}: {check.problems}, "
                                       f"{check.failed} failed sentences")
                table.setdefault(name, {})[str(variant)] = check.digest
                R.log(f"{name} seed {variant}: {job_s:.2f}s {check.digest}")
    finally:
        R.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(jobs._DIGESTS, "w", encoding="utf-8") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or sorted(jobs.RECORDED)))
