"""Extraction sub-stages timed off-Spark, in this process.

Runs the program's own fused extraction generator on pandas batches of
the workload's turns. While it runs, the functions the generator resolves
through the `pipeline.extract` module at call time (`encode`,
`poly_hash_batch`, `seq_probs_batch`, `ner_tags_batch`,
`_decode_spans_batch`) are replaced by wrappers that add their time to a
per-stage total, so every figure is the generator's own. What the named
steps do not cover (padding, relation selection, fan-out, marker splice,
span rendering and frame assembly, plus the wrappers' own cost) is
reported as `extract.assemble_s`.
"""

from __future__ import annotations

import functools
import statistics
import time

# module attribute of pipeline.extract -> the stage its time goes to
STAGES = {
    "encode": "tokenizer.encode_s",
    "poly_hash_batch": "mock_models.seq_s",
    "seq_probs_batch": "mock_models.seq_s",
    "ner_tags_batch": "mock_models.ner_s",
    "_decode_spans_batch": "extract.decode_s",
}


def _one_pass(batches) -> dict[str, float]:
    from openue_spark.pipeline import extract

    totals = dict.fromkeys(STAGES.values(), 0.0)
    totals["mock_models.ner_rows"] = 0.0

    def timed(attr, fn):
        stage = STAGES[attr]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if attr == "ner_tags_batch":  # rows after the relation fan-out
                totals["mock_models.ner_rows"] += len(args[0])
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[stage] += time.perf_counter() - t

        return wrapper

    originals = {attr: getattr(extract, attr) for attr in STAGES}
    try:
        for attr, fn in originals.items():
            setattr(extract, attr, timed(attr, fn))
        t0 = time.perf_counter()
        for _frame in extract._fused_extract_fn()(iter(batches)):
            pass
        totals["extract.udf_s"] = time.perf_counter() - t0
    finally:
        for attr, fn in originals.items():
            setattr(extract, attr, fn)
    totals["extract.assemble_s"] = totals["extract.udf_s"] - sum(
        totals[s] for s in set(STAGES.values()))
    return totals


def extraction_substages(pdf, batch_rows: int = 4096, reps: int = 3) -> dict[str, float]:
    """Per-stage seconds summed over the batches of `pdf`, median of `reps`
    passes; counts are per pass."""
    batches = [pdf.iloc[i: i + batch_rows] for i in range(0, len(pdf), batch_rows)]
    passes = [_one_pass(batches) for _ in range(reps)]
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}
