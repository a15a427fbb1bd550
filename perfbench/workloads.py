"""The benchmark's workloads.

Each drives the program only through its public entry points
(``cli.main(["process", ...])``, ``cli.main(["search", ...])`` and
``QUERIES[name]``) over inputs generated from the seed, and checks every
pass against an oracle outside the timed region.

Each workload sets up (its time is part of ``setup_s``) and then runs
passes until the requested seconds of timed work are done, and at least
one:

* ``update_serve`` — set-up ends with the cold ingest: one
  ``lg process`` over the whole generated tree into an empty store and
  state, in the JVM that just started. A pass is one day: a seeded change
  set is applied to the tree (untimed), then one ``lg process`` and a
  closed loop of ``lg search`` calls from one client, one per mode with
  seeded query terms.
* ``query_suite`` — set-up ends with one build and run of the control
  query, which warms the engine. A pass is the build
  (``QUERIES[name](spark, dir)``) and run (``.write.format("noop")``) of
  every suite query over tables generated from the seed.
"""

from __future__ import annotations

import contextlib
import io
import json
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import tables
from spans import Tracer
from corpus import WORDS, Corpus
from oracle import PipelineOracle, QueryOracle, check_search

#: one search per mode a day, always in this order
MODES = ("vector", "keyword", "hybrid")
SEARCH_K = 5
SUITE = ("q1_pricing_summary", "dedup_minhash_lsh", "text_kn_surprisal")


@dataclass
class Run:
    """State shared by one benchmark run."""

    spark: object
    work: Path
    seed: int
    seconds: float
    trace: bool
    tracer_factory: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    passes: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def op(self, errors: list[str]) -> None:
        """Count one operation and whether it failed its check."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    def loop(self, unit) -> None:
        """Run warm passes ``unit(i)`` until ``seconds`` of timed work
        are done, and at least one."""
        while not self.passes or sum(self.passes) < self.seconds:
            self.passes.append(unit(len(self.passes)))


def cli(argv: list[str]) -> tuple[float, int, str]:
    """Run one CLI command; returns (seconds, exit code, stdout)."""
    from lovdata_pipeline_spark import cli as lg

    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = lg.main(argv)
    return time.perf_counter() - t0, rc, buf.getvalue()


def _expected_counts(results: dict, before: dict) -> dict:
    """processed/failed/removed that an ``lg process`` pass prints, from
    the oracle's results now and at the previous pass. Failed documents
    are retried on every pass."""
    changed = [
        r for d, r in results.items()
        if d not in before or before[d].source_hash != r.source_hash or before[d].rows is None
    ]
    return {
        "processed": sum(r.rows is not None for r in changed),
        "failed": sum(r.rows is None for r in changed),
        "removed": len(set(before) - set(results)),
    }


# -- update_serve ---------------------------------------------------------------


def update_serve(run: Run) -> None:
    corpus = Corpus(run.work / "tree", run.seed)
    store, state = run.work / "store", run.work / "state"
    oracle = PipelineOracle()
    results: dict = {}

    def process(label: str, searches: list[tuple[str, str]]) -> float:
        """One timed ``lg process`` (plus searches) and its checks."""
        nonlocal results
        now = oracle.expect(corpus.files)
        _chunking_figures(run, label, oracle.fresh)
        expect = _expected_counts(now, results)
        results = now
        tracer = run.tracer_factory(label, store) if run.trace else None
        try:
            dt, rc, out = cli(["process", "--corpus", str(corpus.root), "--store", str(store),
                               "--state", str(state)])
            counts = json.loads(out.strip().splitlines()[-1])
            # exit code 1 is the documented result of a pass with poison documents
            errors = [] if rc == (1 if counts["failed"] else 0) else [f"lg process exit code {rc}"]
            errors += [f"lg process printed {counts}, oracle {expect}"] if counts != expect else []
            run.op(errors)
            run.details.setdefault("process_s", []).append(dt)
            t0 = time.perf_counter()
            run.op(oracle.check(run.spark, str(store), str(state), corpus.files))
            run.details.setdefault("oracle_s", []).append(time.perf_counter() - t0)
            collected = oracle.collected
            for mode, query in searches:
                st, rc, out = cli(["search", "--store", str(store), "--query", query,
                                   "--mode", mode, "-k", str(SEARCH_K)])
                hits = json.loads(out)["results"]
                run.op(([f"lg search exit code {rc}"] if rc else [])
                       + check_search(mode, query, SEARCH_K, hits, collected))
                run.details.setdefault(f"search_{mode}_s", []).append(st)
                dt += st
        finally:
            if tracer:
                tracer.finish()
        return dt

    run.setup_s += process("cold", [])
    rng = random.Random(f"lovdata-bench-search:{run.seed}")

    def day(i: int) -> float:
        run.details.setdefault("changes", []).append(corpus.apply_day(i))
        return process(f"day{i}", [(m, " ".join(rng.sample(WORDS, 2))) for m in MODES])

    run.loop(day)


def _chunking_figures(run: Run, label: str, fresh: list) -> None:
    """Single-threaded chunking figures of the documents a pass chunks,
    from the oracle loop (the single-threaded baseline)."""
    if not fresh:
        return
    prefix = "cold." if label == "cold" else ""
    good = [r for r in fresh if r.rows is not None]
    secs = sum(r.seconds for r in fresh)
    tokens_in = sum(r.source_tokens for r in good)
    tokens_out = sum(row["token_count"] for r in good for row in r.rows)
    ms = sorted(r.seconds * 1000 for r in fresh)
    run.details.setdefault(f"{prefix}baseline_s", []).append(secs)
    figures = {
        "chunking.single_thread_docs_per_s": len(fresh) / secs,
        "chunking.token_amplification": tokens_out / tokens_in if tokens_in else 0.0,
        "chunking.doc_ms_p99": ms[min(len(ms) - 1, int(0.99 * len(ms)))],
        "chunking.doc_ms_max": ms[-1],
    }
    for name, value in figures.items():
        run.details.setdefault(prefix + name, []).append(value)


# -- query_suite ----------------------------------------------------------------


def query_suite(run: Run) -> None:
    from lovdata_pipeline_spark.queries import QUERIES

    table_dir = str(tables.write_tables(run.work / "tables", run.seed))
    per_query = {q: {k: [] for k in ("build_s", "exec_s", "build_jobs", "exec_jobs")} for q in SUITE}
    built: dict = {}

    def one_pass(tag: str, queries=SUITE) -> float:
        """Build and run every suite query; a traced pass runs each step
        in a span."""
        tracer = Tracer(run.spark, f"suite-{run.seed}-{tag}") if run.trace and tag != "warmup" else None
        total = 0.0
        for q in queries:
            step = tracer.span if tracer else (lambda name: contextlib.nullcontext())
            t0 = time.perf_counter()
            with step(f"{q}.build"):
                built[q] = QUERIES[q](run.spark, table_dir)
            t1 = time.perf_counter()
            with step(f"{q}.exec"):
                built[q].write.format("noop").mode("overwrite").save()
            total += time.perf_counter() - t0
            if tracer:
                b, e = tracer.spans[-2:]
                for k, v in (("build_s", t1 - t0), ("exec_s", e.end - t1),
                             ("build_jobs", b.jobs), ("exec_jobs", e.jobs)):
                    per_query[q][k].append(v)
        if tracer:
            run.layer["trace.overhead_s"] = tracer.overhead
            run.details.setdefault("spans", []).extend(tracer.records())
        return total

    run.setup_s += one_pass("warmup", SUITE[:1])
    run.loop(lambda i: one_pass(f"pass{i}"))

    oracle = QueryOracle(table_dir, tables.TABLES)
    try:
        for q in SUITE:
            run.op(oracle.check(q, built[q].toPandas()))
    finally:
        oracle.close()
    if not run.trace:
        return
    build = exec_ = 0.0
    for q, m in per_query.items():
        for k, v in m.items():
            run.layer[f"queries.{q}.{k}"] = statistics.median(v)
        build += run.layer[f"queries.{q}.build_s"]
        exec_ += run.layer[f"queries.{q}.exec_s"]
    run.layer["queries.build_jobs"] = sum(run.layer[f"queries.{q}.build_jobs"] for q in SUITE)
    run.layer["queries.build_share"] = build / (build + exec_)


WORKLOADS = {"update_serve": update_serve, "query_suite": query_suite}
