"""The benchmark's workloads: inputs from the seed, one timed operation,
and the correctness check of that operation's output.

Each workload is closed-loop with a single client: the runner starts the
next operation only after the previous one returned. Checks run after the
timed region and read the outputs directly, never through the program.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import hostinfo
import opsdata

_TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "rel_id", "pred", "obj"]
# turns in the build and in the fold that follows it, at scale 1
N_BUILD = 8000
N_FOLD = 1000


@dataclass
class OpResult:
    wall_s: float
    steps: dict[str, float]
    attempted: int
    payload: object = None
    errors: list[str] = field(default_factory=list)
    cpu_s: float = 0.0


def no_span(name, layer=None):
    return contextlib.nullcontext()


def closed_loop(wl, spark, seconds: float):
    """Operations back to back until `seconds` have passed (at least one).
    Returns the results and the number of operations that raised."""
    results = []
    t0 = time.time()
    while True:
        try:
            cpu0 = hostinfo.tree_cpu_s(os.getpid())
            results.append(wl.op(spark, no_span))
            results[-1].cpu_s = hostinfo.tree_cpu_s(os.getpid()) - cpu0
        except Exception:
            traceback.print_exc()
            return results, 1
        if time.time() - t0 >= seconds:
            return results, 0


def _triple_bag(path: str) -> Counter:
    t = pq.read_table(path, columns=_TRIPLE_COLS)
    return Counter(zip(*(t.column(c).to_pylist() for c in _TRIPLE_COLS)))


class Build:
    """A fresh full `job.main` KG build over the seed's turns, then one
    `job.main --increment` fold of the next disjoint batch into the new KG."""

    name = "build"

    def __init__(self, seed: int, scale: float, run_dir: str, state_dir: str):
        self.n_build = max(200, int(N_BUILD * scale))
        self.n_fold = max(50, int(N_FOLD * scale))
        # turns are a pure function of their global index: the seed picks
        # the window
        self.offset = 10_000_000 + (seed % 1000) * 100_000
        self.seed = seed
        self.run_dir = run_dir
        self.state_dir = state_dir
        self._ops = 0

    def prepare(self) -> None:
        """Oracle references for both batches (not part of set-up time)."""
        from openue_spark.fixtures import transcripts_pandas
        from openue_spark.oracle import extract_corpus

        self.turns = transcripts_pandas(self.n_build, self.offset)
        fold = transcripts_pandas(self.n_fold, self.offset + self.n_build)
        self.ref = [
            Counter(
                (t.conv_id, t.turn_idx, t.subj, t.rel_id, t.pred, t.obj)
                for t in extract_corpus(
                    list(zip(df.conv_id, df.turn_idx.astype(int), df.text)))
            )
            for df in (self.turns, fold)
        ]

    def op(self, spark, span) -> OpResult:
        from openue_spark import job

        # a fresh out dir per operation: no resume manifest or earlier
        # output can short-circuit the timed work
        self._ops += 1
        out = os.path.join(self.run_dir, f"kg-{self._ops}")
        steps = {}
        with contextlib.redirect_stdout(sys.stderr):
            t0 = time.time()
            with span("job.main build"):
                job.main(["--synthesize", str(self.n_build), "--synthesize-offset",
                          str(self.offset), "--out", out], spark=spark)
            steps["build_s"] = time.time() - t0
            t1 = time.time()
            with span("job.main fold"):
                job.main(["--synthesize", str(self.n_fold), "--synthesize-offset",
                          str(self.offset + self.n_build), "--increment",
                          "--out", out], spark=spark)
            steps["fold_s"] = time.time() - t1
        return OpResult(time.time() - t0, steps, len(steps), out)

    def check(self, res: OpResult) -> None:
        out = res.payload
        errors = res.errors
        inc = glob.glob(f"{out}/increments/*/triples")
        batches = [("build", f"{out}/triples", self.ref[0]),
                   ("fold", inc[0] if len(inc) == 1 else None, self.ref[1])]
        for label, path, want in batches:
            got = _triple_bag(path) if path else Counter()
            if got != want:
                errors.append(f"{label}: raw triples differ from the oracle "
                              f"({sum(got.values())} vs {sum(want.values())})")
        n_raw = sum(sum(want.values()) for _, _, want in batches)
        graph = pq.read_table(f"{out}/graph").select(
            ["subj", "pred", "obj", "support", "first_conv"])
        rows = sorted(zip(*(graph.column(c).to_pylist() for c in graph.column_names)))
        if len({r[:3] for r in rows}) != len(rows):
            errors.append("graph: duplicate (subj, pred, obj) rows")
        if sum(r[3] for r in rows) != n_raw:
            errors.append(f"graph: sum(support) {sum(r[3] for r in rows)} != {n_raw} raw triples")
        # the graph must be identical across runs of one seed
        h = hashlib.sha256(repr(rows).encode()).hexdigest()
        os.makedirs(self.state_dir, exist_ok=True)
        pin = os.path.join(self.state_dir,
                           f"build-graph-{self.seed}-{self.n_build}-{self.n_fold}.sha256")
        if os.path.exists(pin):
            with open(pin) as f:
                if f.read().strip() != h:
                    errors.append("graph: digest differs from an earlier run of this seed")
        else:
            with open(pin, "w") as f:
                f.write(h)
        shutil.rmtree(out, ignore_errors=True)


class Ops:
    """The dedup, similarity and graph contract operators, one after the
    other in an order drawn from the seed, each collected to the driver."""

    name = "ops"

    def __init__(self, seed: int, scale: float, run_dir: str, state_dir: str):
        self.order = list(opsdata.QUERIES)
        random.Random(seed).shuffle(self.order)
        self.scale = scale
        self.state_dir = state_dir

    def prepare(self) -> None:
        self.table_dir, self.refs = opsdata.prepare(self.state_dir, self.scale)

    def op(self, spark, span) -> OpResult:
        from openue_spark.contract import queries

        qs = queries()
        steps, results = {}, {}
        t0 = time.time()
        for q in self.order:
            layer = opsdata.QUERIES[q][0]
            t = time.time()
            with span(f"{layer}.{q}", layer):
                df = qs[q](spark, self.table_dir)
                results[q] = (df.columns, df.collect())
            steps[q] = time.time() - t
        return OpResult(time.time() - t0, steps, len(self.order), results)

    def check(self, res: OpResult) -> None:
        for q, (cols, rows) in res.payload.items():
            if opsdata.digest(cols, rows) != self.refs[q]:
                res.errors.append(f"{q}: result digest differs from the DuckDB oracle")
        res.payload = None


WORKLOADS = {w.name: w for w in (Build, Ops)}
