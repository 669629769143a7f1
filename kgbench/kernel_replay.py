"""Replay the Python annotation kernel over sample documents, one annotator
at a time, in this process.

    taskset -c 3 python3 kgbench/kernel_replay.py DOCS_FILE

DOCS_FILE holds one document text per line.  Lexicons are loaded by one
call of each annotator on a fixed sentence first; then the documents are
replayed twice.  The first pass is cold (fresh process, empty analysis
cache), the second warm.  Prints one JSON object: ms per sentence for each
annotator and pass, and the analysis-cache growth per token of the cold
pass (its miss ratio).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vnlp_spark.functions.sentence_splitter import py_split_sentences  # noqa: E402
from vnlp_spark.functions.tokenizer import py_treebank_tokenize  # noqa: E402
from vnlp_spark.operators import morphology  # noqa: E402
from vnlp_spark.operators.dep_parser import py_parse_tokens  # noqa: E402
from vnlp_spark.operators.ner import py_ner_mentions  # noqa: E402
from vnlp_spark.resources import non_breaking_prefixes  # noqa: E402

STEPS = ("split", "tokenize", "morphology", "ner", "parse")


def replay(docs, prefixes) -> tuple[dict, int, int]:
    spent = dict.fromkeys(STEPS, 0.0)
    n_sent = n_tok = 0
    clock = time.perf_counter
    for doc in docs:
        t0 = clock()
        sentences = py_split_sentences(doc, prefixes)
        spent["split"] += clock() - t0
        for sentence in sentences:
            t0 = clock()
            tokens = py_treebank_tokenize(sentence)
            t1 = clock()
            analyses = morphology.py_analyze_tokens(tokens)
            t2 = clock()
            py_ner_mentions(tokens)
            t3 = clock()
            py_parse_tokens(tokens, analyses=analyses)
            t4 = clock()
            spent["tokenize"] += t1 - t0
            spent["morphology"] += t2 - t1
            spent["ner"] += t3 - t2
            spent["parse"] += t4 - t3
            n_sent += 1
            n_tok += len(tokens)
    return spent, n_sent, n_tok


def main(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        docs = [line.rstrip("\n") for line in f if line.strip()]
    prefixes = non_breaking_prefixes()
    replay(["Bu sabah deneme için kısa bir cümle yazıldı."], prefixes)  # loads lexicons
    cache = getattr(morphology, "_ANALYSIS_CACHE", None)
    keys0 = len(cache) if cache is not None else 0
    cold, n_sent, n_tok = replay(docs, prefixes)
    new_keys = (len(cache) - keys0) if cache is not None else None
    warm, _, _ = replay(docs, prefixes)
    out = {"sentences": n_sent, "tokens": n_tok,
           "new_keys_per_token": None if new_keys is None else new_keys / max(n_tok, 1)}
    for step in STEPS:
        out[f"{step}.cold"] = 1000.0 * cold[step] / max(n_sent, 1)
        out[f"{step}.warm"] = 1000.0 * warm[step] / max(n_sent, 1)
    return out


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1])))
