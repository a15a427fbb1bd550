"""Per-layer figures of one traced pass.

``PassTrace`` installs the tracer's wrappers around the program's public
calls for the length of one pass and turns the spans into per-layer
figures. Three layers are lazy — ``identify_changed``,
``chunk_documents_df`` and ``embed_chunks_df`` only build plans — so the
traced pass adds *probes*: side actions on the same inputs, in spans
named ``probe.*``, whose time and jobs are excluded from the figures of
the spans around them:

* ``probe.xml_scan`` — an aggregate over ``read_xml_corpus`` of the tree
  (scan and sha256 of every file);
* ``probe.identify`` — a count of ``identify_changed``'s result;
* ``probe.chunking`` — a ``localCheckpoint`` of ``chunk_documents_df``'s
  result, which includes the scan and join that feed it;
* ``probe.embedding`` — a ``noop`` write of ``embed_chunks_df`` over the
  checkpointed good chunks, so it times embedding alone.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

from spans import Tracer

#: every per-layer figure a traced pass can produce (median over passes)
PASS_METRICS = (
    "xml_corpus.scan_s", "xml_corpus.docs_scanned", "xml_corpus.bytes_scanned",
    "xml_corpus.changed_ratio", "incremental.identify_s", "incremental.selected_docs",
    "chunking.busy_s", "chunking.docs", "chunking.chunks_out", "chunking.poison_docs",
    "chunking.parallel_speedup", "embedding.busy_s", "embedding.chunks",
    "embedding.chunks_per_s", "pipeline.run_s", "pipeline.jobs", "pipeline.stages",
    "pipeline.tasks", "cli.process_s", "chunk_store.upsert_s", "chunk_store.upsert_jobs",
    "chunk_store.delete_s", "chunk_store.delete_calls", "chunk_store.delete_jobs",
    "chunk_store.buckets_rewritten", "chunk_store.bytes_written",
    "chunk_store.write_amplification", "chunk_store.files", "chunk_store.bytes",
    "state_store.commit_s", "state_store.commits", "state_store.jobs",
    "search.vector_ms_p50", "search.keyword_ms_p50", "search.hybrid_ms_p50",
    "search.vector_jobs_per_query", "search.keyword_jobs_per_query",
    "search.hybrid_jobs_per_query", "search.ms_p50", "search.calls", "trace.overhead_s",
)


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for p in Path(root).glob("bucket=*/*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            st = p.stat()
            out[str(p.relative_to(root))] = (st.st_size, st.st_mtime_ns)
    return out


class PassTrace:
    """Instrumentation of one traced pass; call ``finish`` after it."""

    def __init__(self, spark, run_id: str, store: Path, sink: dict):
        import lovdata_pipeline_spark.cli as cli_mod
        import lovdata_pipeline_spark.operators.search as search_mod
        import lovdata_pipeline_spark.operators.similarity as sim_mod
        import lovdata_pipeline_spark.pipeline as pipeline_mod
        import lovdata_pipeline_spark.sources.xml_corpus as xml_mod
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
        from lovdata_pipeline_spark.sources.state_store import StateStore

        self.spark = spark
        self.store = store
        self.sink = sink
        self.t = Tracer(spark, run_id)
        self.fig: dict[str, float] = defaultdict(float)
        self._read_xml = xml_mod.read_xml_corpus
        self._embed = pipeline_mod.embed_chunks_df
        self._good = None
        self._before: dict = {}

        t = self.t
        t.wrap(cli_mod, "cmd_process", "cli.process", before=self._scan_probe)
        t.wrap(cli_mod, "cmd_search", "cli.search",
               before=lambda s, a, k: s.attrs.update(mode=a[0].mode))
        t.wrap(xml_mod, "read_xml_corpus", "xml_corpus.read_xml_corpus")
        t.wrap(xml_mod, "manifest_diff", "xml_corpus.manifest_diff")
        t.wrap(pipeline_mod, "run_pipeline", "pipeline.run_pipeline")
        t.wrap(pipeline_mod, "identify_changed", "incremental.identify_changed",
               after=self._identify_probe)
        t.wrap(pipeline_mod, "chunk_documents_df", "chunking.chunk_documents_df",
               after=self._chunk_probe)
        t.wrap(pipeline_mod, "embed_chunks_df", "embedding.embed_chunks_df",
               after=self._embed_probe)
        t.wrap(ChunkStore, "upsert_chunks", "chunk_store.upsert_chunks",
               before=self._snapshot, after=self._written)
        t.wrap(ChunkStore, "delete_documents", "chunk_store.delete_documents",
               before=self._snapshot, after=self._written)
        for method in ("mark_processed", "mark_failed", "remove"):
            t.wrap(StateStore, method, f"state_store.{method}")
        t.wrap(sim_mod, "cosine_topk", "similarity.cosine_topk")
        t.wrap(search_mod, "bm25_topk", "search.bm25_topk")
        t.wrap(search_mod, "rrf_fuse", "search.rrf_fuse")

    # -- probes ----------------------------------------------------------------

    def _scan_probe(self, span, args, kwargs) -> None:
        from pyspark.sql import functions as F

        with self.t.span("probe.xml_scan"):
            row = self._read_xml(self.spark, args[0].corpus).agg(
                F.count("*").alias("n"), F.sum(F.octet_length("xml")).alias("b")
            ).first()
        self.fig["xml_corpus.docs_scanned"] = row["n"]
        self.fig["xml_corpus.bytes_scanned"] = row["b"] or 0
        self.fig["xml_corpus.scan_s"] = self.t.spans[-1].seconds

    def _identify_probe(self, span, result, args, kwargs) -> None:
        with self.t.span("probe.identify"):
            n = result.count()
        self.fig["incremental.selected_docs"] = n
        self.fig["chunking.docs"] = n
        self.fig["incremental.identify_s"] = self.t.spans[-1].seconds

    def _chunk_probe(self, span, result, args, kwargs) -> None:
        from pyspark.sql import functions as F

        with self.t.span("probe.chunking"):
            mat = result.localCheckpoint(eager=True)
        self.fig["chunking.busy_s"] = self.t.spans[-1].seconds
        with self.t.span("probe.chunk_counts"):
            row = mat.agg(
                F.count(F.when(F.col("error").isNull(), 1)).alias("chunks"),
                F.countDistinct(F.when(F.col("error").isNotNull(), F.col("document_id"))).alias("poison"),
            ).first()
        self.fig["chunking.chunks_out"] = row["chunks"]
        self.fig["chunking.poison_docs"] = row["poison"]
        self._good = mat.filter(F.col("error").isNull())

    def _embed_probe(self, span, result, args, kwargs) -> None:
        if self._good is None:
            return
        with self.t.span("probe.embedding"):
            self._embed(self._good, *args[1:], **kwargs).write.format("noop").mode(
                "overwrite"
            ).save()
        self.fig["embedding.busy_s"] = self.t.spans[-1].seconds
        self.fig["embedding.chunks"] = self.fig["chunking.chunks_out"]

    # -- store writes ------------------------------------------------------------

    def _snapshot(self, span, args, kwargs) -> None:
        self._before = _files(args[0].root)

    def _written(self, span, result, args, kwargs) -> None:
        after = _files(args[0].root)
        new = [f for f, meta in after.items() if self._before.get(f) != meta]
        span.attrs["bytes_written"] = sum(after[f][0] for f in new)
        span.attrs["buckets"] = len({f.split("/", 1)[0] for f in new})

    # -- figures -------------------------------------------------------------------

    def finish(self) -> None:
        """Remove the wrappers and add this pass's figures to the sink."""
        self.t.unwrap_all()
        t, fig = self.t, self.fig
        for s in t.named("cli.process"):
            fig["cli.process_s"] += t.net_seconds(s)
            for what in ("jobs", "stages", "tasks"):
                fig[f"pipeline.{what}"] += t.inclusive(s, what)
        for s in t.named("pipeline.run_pipeline"):
            fig["pipeline.run_s"] += t.net_seconds(s)
        if fig["embedding.busy_s"]:
            fig["embedding.chunks_per_s"] = fig["embedding.chunks"] / fig["embedding.busy_s"]
        if fig["xml_corpus.docs_scanned"]:
            fig["xml_corpus.changed_ratio"] = (
                fig["incremental.selected_docs"] / fig["xml_corpus.docs_scanned"]
            )
        for kind, method in (("upsert", "upsert_chunks"), ("delete", "delete_documents")):
            spans = t.named(f"chunk_store.{method}")
            fig[f"chunk_store.{kind}_s"] = sum(t.net_seconds(s) for s in spans)
            fig[f"chunk_store.{kind}_jobs"] = sum(t.inclusive(s, "jobs") for s in spans)
            fig["chunk_store.bytes_written"] += sum(s.attrs["bytes_written"] for s in spans)
            fig["chunk_store.buckets_rewritten"] += sum(s.attrs["buckets"] for s in spans)
        fig["chunk_store.delete_calls"] = len(t.named("chunk_store.delete_documents"))
        commits = [s for s in t.spans if s.name.startswith("state_store.")]
        fig["state_store.commit_s"] = sum(t.net_seconds(s) for s in commits)
        fig["state_store.commits"] = len(commits)
        fig["state_store.jobs"] = sum(t.inclusive(s, "jobs") for s in commits)
        self._store_figures()
        self._search_figures()
        fig["trace.overhead_s"] = t.overhead
        for name, value in fig.items():
            self.sink.setdefault(name, []).append(value)
        self.sink.setdefault("_spans", []).extend(t.records())

    def _store_figures(self) -> None:
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        fig = self.fig
        if not self.store.exists():
            return
        files = _files(str(self.store))
        fig["chunk_store.files"] = len(files)
        fig["chunk_store.bytes"] = sum(size for size, _ in files.values())
        rows = ChunkStore(self.spark, str(self.store)).count() if files else 0
        changed_bytes = fig["chunk_store.bytes"] * fig["chunking.chunks_out"] / rows if rows else 0
        if changed_bytes:
            fig["chunk_store.write_amplification"] = fig["chunk_store.bytes_written"] / changed_bytes

    def _search_figures(self) -> None:
        by_mode: dict[str, list] = defaultdict(list)
        for s in self.t.named("cli.search"):
            by_mode[s.attrs["mode"]].append(s)
        every = [s.seconds for spans in by_mode.values() for s in spans]
        if not every:
            return
        self.fig["search.ms_p50"] = 1000 * statistics.median(every)
        self.fig["search.calls"] = len(every)
        for mode, spans in by_mode.items():
            self.fig[f"search.{mode}_ms_p50"] = 1000 * statistics.median(s.seconds for s in spans)
            self.fig[f"search.{mode}_jobs_per_query"] = (
                sum(self.t.inclusive(s, "jobs") for s in spans) / len(spans)
            )


def summarise(sink: dict, baseline_s: list[float], prefix: str = "") -> dict[str, float]:
    """Median of every pass figure over the traced passes of one kind
    (0 when the workload never exercised the layer)."""
    out = {}
    for name in PASS_METRICS:
        values = sink.get(name, [])
        out[prefix + name] = float(statistics.median(values)) if values else 0.0
    if baseline_s and out[prefix + "chunking.busy_s"]:
        out[prefix + "chunking.parallel_speedup"] = (
            statistics.median(baseline_s) / out[prefix + "chunking.busy_s"]
        )
    return out
