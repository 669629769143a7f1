"""The benchmark's workloads: their inputs, one pass of the KG job, and the
checks on that pass's outputs.

A pass runs the job through the library's public entry points only:
``plans.pipeline.run_kg_pipeline`` for the workloads, and
``bin.kg_job.main`` for the staged passes of ``crawl_dup``'s traced run.
"""
from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import workload as W


@dataclass(frozen=True)
class Spec:
    name: str
    corpus: str  # "pooled" or "gold"
    n_sentences: int  # Turkish sentences in the input


SPECS = {
    # crawl_dup's passes are mostly fixed per-pass cost (planning, JIT, stage
    # scheduling); at 96,000 sentences the data-proportional work is large
    # enough that the pass time levels off after the two warm passes
    "crawl_dup": Spec("crawl_dup", "pooled", 96_000),
    "unique_text": Spec("unique_text", "gold", 5_000),
}
# the pooled corpus through kg_job.main: run by crawl_dup's traced run for
# the plans.lineage layer, at a size that fits in that run, its outputs
# checked against the digests recorded under its own name
STAGED = Spec("staged_job", "pooled", 12_000)
RECORDED = {**SPECS, STAGED.name: STAGED}  # every spec with recorded digests


def scaling_spec(spec: Spec) -> Spec:
    """A quarter of the workload's input: the size of the local[1] baseline
    behind scaling.eff_1_to_n, which must finish inside one traced run."""
    return replace(spec, n_sentences=spec.n_sentences // 4)


TWIN_DOCS = 4  # documents per pass whose annotated rows are checked against the Python twin
_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


@dataclass
class Outputs:
    """The tables a pass produced, and how to release them."""

    annotated: DataFrame
    triples: DataFrame
    entities: DataFrame
    edges: DataFrame
    release: list = field(default_factory=list)

    def close(self):
        for fn in self.release:
            fn()


@dataclass
class Check:
    sentences: int
    failed: int
    triples: int
    digest: str | None
    problems: list


class Workload:
    """One workload in one Spark session: inputs under ``work_dir``."""

    def __init__(self, spark, spec: Spec, seed: int, work_dir: str, cores: int):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work_dir = work_dir
        self.cores = cores
        self._texts = W.gold_texts() if spec.corpus == "gold" else None
        self._fixed: tuple | None = None

    # -- inputs ------------------------------------------------------------
    def corpus(self, pass_no: int | str) -> W.Corpus:
        if self.spec.corpus == "gold":
            return W.gold_corpus(self.spec.n_sentences, self.seed, pass_no, self._texts)
        return W.pooled_corpus(self.spec.n_sentences, self.seed)

    def input_for(self, pass_no: int | str) -> tuple[str, W.Corpus]:
        """Parquet input of a pass, generated and written before timing."""
        if self._fixed is not None:
            return self._fixed
        corpus = self.corpus(pass_no)
        path = os.path.join(self.work_dir, f"input-{pass_no}")
        shutil.rmtree(path, ignore_errors=True)
        out = (corpus.write_parquet(path, self.cores), corpus)
        if self.spec.corpus == "pooled":  # gold inputs get fresh markers every pass
            self._fixed = out
        return out

    def drop_input(self, path: str):
        if self._fixed is None:
            shutil.rmtree(path, ignore_errors=True)

    def warm_up(self, path: str):
        """The workload's own job over six sentences per core: starts the
        Python workers, loads their lexicons and compiles the plan."""
        n = 6 * self.cores
        if self.spec.corpus == "gold":
            corpus = W.gold_corpus(n, self.seed, "warmup", self._texts)
        else:
            corpus = W.pooled_corpus(n, self.seed)
        corpus.write_parquet(path, self.cores)
        self.run_pass(path, "warmup")[1].close()

    # -- one pass ----------------------------------------------------------
    def run_pass(self, input_dir: str, pass_no: int | str, tracer=None) -> tuple[float, Outputs]:
        """Run the job once; returns (job seconds, outputs).  The timed window
        runs from reading the input table to triples, entities and edges all
        being materialised."""
        if self.spec.name == "staged_job":
            return self._staged(input_dir, pass_no)
        return self._in_memory(input_dir, pass_no, tracer)

    def _in_memory(self, input_dir, pass_no, tracer):
        from vnlp_spark.plans import pipeline as P

        dedup = self.spec.name == "crawl_dup"
        t0 = time.monotonic()
        docs = self.spark.read.parquet(input_dir)
        kg = P.run_kg_pipeline(docs, persist=True, dedup_sentences=dedup)
        if tracer is None:
            kg.triples.count()
            kg.entities.count()
            kg.edges.count()
        else:
            # one action per layer, each under its own job group
            for layer, df in (("annotate", kg.annotated), ("triples", kg.triples),
                              ("entities", kg.entities), ("edges", kg.edges)):
                with tracer.span(f"action.{layer}", group=f"p{pass_no}:{layer}"):
                    df.count()
        job_s = time.monotonic() - t0
        release = [lambda df=df: df.unpersist(blocking=True)
                   for df in (kg.annotated, kg.triples, kg.entities)]
        return job_s, Outputs(kg.annotated, kg.triples, kg.entities, kg.edges, release)

    def _kg_job(self, input_dir: str, pass_no: int | str) -> float:
        from vnlp_spark.bin import kg_job

        t0 = time.monotonic()
        rc = kg_job.main(["--input", input_dir, "--output", self._staged_dir(pass_no)])
        if rc != 0:
            raise RuntimeError(f"kg_job.main exited with {rc}")
        return time.monotonic() - t0

    def _staged_dir(self, pass_no: int | str) -> str:
        return os.path.join(self.work_dir, f"staged-{pass_no}")

    def _staged(self, input_dir, pass_no):
        out_dir = self._staged_dir(pass_no)
        shutil.rmtree(out_dir, ignore_errors=True)
        job_s = self._kg_job(input_dir, pass_no)
        read = lambda name: self.spark.read.parquet(os.path.join(out_dir, name))  # noqa: E731
        return job_s, Outputs(read("annotated"), read("triples"), read("entities"),
                              read("edges"), [lambda: shutil.rmtree(out_dir, ignore_errors=True)])

    def resume(self, input_dir: str, pass_no: int) -> float:
        """Seconds for ``kg_job.main`` to re-run a pass whose stages are all
        complete (every stage is read back, none recomputed)."""
        return self._kg_job(input_dir, pass_no)

    # -- checks ------------------------------------------------------------
    def check(self, out: Outputs, corpus: W.Corpus, expected_digest: str | None,
              full: bool) -> Check:
        """Sentence, null-annotation and triple counts in one Spark action.
        ``full`` adds the output digest and a few documents checked against
        the Python twin."""
        counts = out.annotated.agg(
            F.count(F.lit(1)).alias("sentences"),
            F.sum(F.when(F.col("tokens").isNull() | F.col("arcs").isNull(), 1)
                  .otherwise(0)).alias("failed"),
        ).crossJoin(out.triples.agg(F.count(F.lit(1)).alias("triples")))
        row = counts.collect()[0]
        check = Check(int(row["sentences"]), int(row["failed"] or 0), int(row["triples"]), None, [])
        if check.sentences != corpus.n_tr_sentences:
            check.problems.append(
                f"annotated {check.sentences} sentences, generator made {corpus.n_tr_sentences}")
        if full:
            check.digest = kg_digest(out)
            if expected_digest is not None and check.digest != expected_digest:
                check.problems.append(f"output digest {check.digest} != recorded {expected_digest}")
            check.problems += twin_mismatches(out.annotated, corpus)
        return check


def recorded_digest(workload: str, seed: int) -> str | None:
    try:
        with open(_DIGESTS, encoding="utf-8") as f:
            table = json.load(f)
    except FileNotFoundError:
        return None
    return table.get(workload, {}).get(str(seed % W.N_VARIANTS))


_ID_COLS = frozenset({"entity_id", "subj_id", "obj_id"})


def _digest_agg(df: DataFrame, name: str) -> DataFrame:
    """One-row order-insensitive digest: row count and sum of row hashes.

    Digit runs in text columns other than ``url`` are masked, so the
    per-pass record markers of ``unique_text`` do not change it; entity ids
    (a hash of key and type, both digested) enter as present/absent."""
    exprs = []
    for col_name, dtype in sorted(df.dtypes):
        col = F.col(col_name)
        if col_name in _ID_COLS:
            col = col.isNull()
        elif dtype == "string" and col_name != "url":
            col = F.regexp_replace(col, "[0-9]+", "#")
        exprs.append(col)
    return df.select(F.xxhash64(*exprs).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias(f"{name}_rows"), F.sum("h").alias(f"{name}_sum"))


def kg_digest(out: Outputs) -> str:
    """``name=rows:hash-sum`` for triples, entities and edges, one action."""
    tables = (("triples", out.triples), ("entities", out.entities), ("edges", out.edges))
    aggs = [_digest_agg(df, name) for name, df in tables]
    row = aggs[0].crossJoin(aggs[1]).crossJoin(aggs[2]).collect()[0]
    return " ".join(f"{name}={row[name + '_rows']}:{row[name + '_sum'] or 0}"
                    for name, _ in tables)


def twin_mismatches(annotated: DataFrame, corpus: W.Corpus) -> list[str]:
    """Compare the annotated rows of a few documents with the Python twin
    (tokenize -> morphology -> NER -> parse, in this process)."""
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.operators.dep_parser import py_parse_tokens
    from vnlp_spark.operators.morphology import py_analyze_tokens
    from vnlp_spark.operators.ner import py_ner_mentions

    tr_rows = [r for r in corpus.rows if r[4] == "tr"]
    step = max(1, len(tr_rows) // TWIN_DOCS)
    urls = [r[0] for r in tr_rows[::step][:TWIN_DOCS]]
    rows = (
        annotated.filter(F.col("url").isin(urls))
        .select("url", "sentence", "tokens", "analyses", "mentions", "arcs")
        .collect()
    )
    problems = []
    if not rows:
        problems.append("twin check found no annotated rows for its sample documents")
    for r in rows:
        tokens = py_treebank_tokenize(r.sentence)
        analyses = py_analyze_tokens(tokens)
        mentions = [(m["mention"], m["label"], m["first_tok"], m["last_tok"])
                    for m in py_ner_mentions(tokens)]
        arcs = py_parse_tokens(tokens, analyses=analyses)
        want = (tokens, list(analyses), mentions,
                None if arcs is None else [tuple(a) for a in arcs])
        got = (
            list(r.tokens or []),
            list(r.analyses or []),
            [tuple(m) for m in r.mentions or []],
            None if r.arcs is None else [tuple(a) for a in r.arcs],
        )
        if got != want:
            problems.append(f"twin mismatch in {r.url}: {r.sentence!r}")
    return problems
