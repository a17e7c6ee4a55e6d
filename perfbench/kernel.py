"""In-process attribution of the fused extraction kernel: µs per document
for each sub-stage of ``decode_document``, interleaved best-of-k over a
fixed document sample (no Spark involved)."""

from __future__ import annotations

import copy
import gc
import time
from types import SimpleNamespace

from relation_extraction_spark.functions.tokenizer import tokenize_with_offsets
from relation_extraction_spark.operators.extract_triples import (
    decode_document, extract_text_bytes)
from relation_extraction_spark.operators.rewrite import combine_spos, postprocess_1
from relation_extraction_spark.operators.scorer import SurrogateScorer
from relation_extraction_spark.schema import MAX_TOKENS, MY_SCHEMA, DatasetSchema

# decode_document without combine/postprocess: its decode steps alone
NO_REWRITES = DatasetSchema(MY_SCHEMA, rewrites=False)


def kernel_us_per_doc(htmls: list[bytes], texts: list[str], repeats: int = 5) -> dict[str, float]:
    scorer = SurrogateScorer()
    # decode_document calls scorer.score(text); this one returns the cached
    # score, so the "decode" timing holds no scoring
    prescored = SimpleNamespace(score={t: scorer.score(t) for t in texts}.__getitem__)
    decoded = [decode_document(t, prescored, NO_REWRITES) for t in texts]
    # the rewrites mutate their input lists, so each timing gets a fresh copy
    # made outside the timed region
    stages = {
        "extract_text_bytes": lambda: [extract_text_bytes(h) for h in htmls],
        "tokenizer": lambda: [tokenize_with_offsets(t, MAX_TOKENS) for t in texts],
        "scorer_total": lambda: [scorer.score(t) for t in texts],
        "decode": lambda: [decode_document(t, prescored, NO_REWRITES) for t in texts],
        "rewrite": None,
        "decode_document": lambda: [decode_document(t, scorer) for t in texts],
    }
    best = {k: float("inf") for k in stages}
    gc_was_enabled = gc.isenabled()
    try:
        for _ in range(repeats):
            for name, fn in stages.items():
                fresh = copy.deepcopy(decoded) if name == "rewrite" else None
                gc.collect()
                gc.disable()   # as timeit does: no collector pauses in a timing
                t0 = time.perf_counter()
                if fresh is not None:
                    for t, spos in zip(texts, fresh):
                        postprocess_1(t, combine_spos(spos))
                else:
                    fn()
                best[name] = min(best[name], time.perf_counter() - t0)
                gc.enable()
    finally:
        if gc_was_enabled:
            gc.enable()
    n_text, n_html = max(len(texts), 1), max(len(htmls), 1)
    us = {k: v * 1e6 / (n_html if k == "extract_text_bytes" else n_text)
          for k, v in best.items()}
    return {
        "tokenizer.us_per_doc": us["tokenizer"],
        "scorer.us_per_doc": us["scorer_total"] - us["tokenizer"],
        "decode.us_per_doc": us["decode"],
        "rewrite.us_per_doc": us["rewrite"],
        "decode_document.us_per_doc": us["decode_document"],
        "extract_text_bytes.us_per_doc": us["extract_text_bytes"],
    }
