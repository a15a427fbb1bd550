"""Correctness oracles, run outside the timed region.

* Pipeline: a single-threaded loop of ``chunk_document`` plus
  ``mock_hash_provider`` over the generated tree gives the store and the
  state that every ``lg process`` pass must leave behind. The same loop,
  timed per document, is the single-threaded chunking baseline.
* Search: vector hits equal a numpy brute-force cosine top-k over the
  collected store (ties compared by score); keyword and hybrid hits are
  at most k, their scores never increase, and every keyword hit
  contains a query term.
* Queries: each result equals its DuckDB oracle in ``oracles.ORACLES``,
  canonicalised as in ``tests/test_queries_oracle.py``.
"""

from __future__ import annotations

import hashlib
import math
import time
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import numpy as np


@dataclass
class DocResult:
    """The oracle's view of one document version."""

    source_hash: str
    rows: list[dict] | None  # None: poison document
    seconds: float
    source_tokens: int


@dataclass
class PipelineOracle:
    """Expected store and state for the documents currently in a tree.

    Results are memoised by (doc_id, source hash), so a daily pass only
    re-chunks the documents its change set touched.
    """

    dims: int = 64
    _memo: dict[tuple[str, str], DocResult] = field(default_factory=dict)
    #: per-document chunking seconds of the most recent ``expect`` call,
    #: for documents that were not memoised yet
    fresh: list[DocResult] = field(default_factory=list)
    #: the store as collected by the most recent ``check``, in the form
    #: ``check_search`` takes
    collected: tuple = ()

    def _chunk(self, doc_id: str, dataset: str, xml: bytes, source_hash: str) -> DocResult:
        from lovdata_pipeline_spark.chunking import chunk_document
        from lovdata_pipeline_spark.config import ChunkParams
        from lovdata_pipeline_spark.functions.tokens import count_tokens

        text = xml.decode("utf-8")
        t0 = time.perf_counter()
        try:
            rows = chunk_document(text, doc_id, dataset, source_hash, ChunkParams())
        except Exception:  # noqa: BLE001 - a poison document, as in the Spark wrapper
            rows = None
        seconds = time.perf_counter() - t0
        try:
            source_tokens = count_tokens("".join(ET.fromstring(text).itertext()))
        except ET.ParseError:
            source_tokens = 0
        return DocResult(source_hash, rows, seconds, source_tokens)

    def expect(self, files: dict[str, tuple[str, bytes]]) -> dict[str, DocResult]:
        self.fresh = []
        out = {}
        for doc_id, (dataset, xml) in sorted(files.items()):
            h = hashlib.sha256(xml).hexdigest()
            key = (doc_id, h)
            if key not in self._memo:
                self._memo[key] = self._chunk(doc_id, dataset, xml, h)
                self.fresh.append(self._memo[key])
            out[doc_id] = self._memo[key]
        return out

    def check(self, spark, store_path: str, state_path: str,
              files: dict[str, tuple[str, bytes]]) -> list[str]:
        """Compare the store and state on disk with the oracle; returns
        the list of mismatches (empty when correct)."""
        from lovdata_pipeline_spark.embedding import mock_hash_provider
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
        from lovdata_pipeline_spark.sources.state_store import StateStore

        expected = self.expect(files)
        errors: list[str] = []
        state = {
            r["doc_id"]: (r["hash"], r["status"])
            for r in StateStore(spark, state_path).read().select("doc_id", "hash", "status").collect()
        }
        want_state = {
            d: (r.source_hash, "failed" if r.rows is None else "processed")
            for d, r in expected.items()
        }
        if state != want_state:
            diff = sorted(set(state.items()) ^ set(want_state.items()))[:5]
            errors.append(f"state differs from the oracle: {diff}")

        got = {
            r["chunk_id"]: r
            for r in ChunkStore(spark, store_path)
            .read()
            .select("chunk_id", "document_id", "content", "token_count", "embedding")
            .collect()
        }
        ids = list(got)
        self.collected = (
            ids,
            np.asarray([got[c]["embedding"] for c in ids], dtype=np.float64).reshape(len(ids), -1),
            {c: got[c]["content"] or "" for c in ids},
        )
        want = {
            row["chunk_id"]: row
            for r in expected.values()
            if r.rows
            for row in r.rows
        }
        if set(got) != set(want):
            diff = sorted(set(got) ^ set(want))[:5]
            errors.append(f"store chunk ids differ from the oracle ({len(got)} vs {len(want)}): {diff}")
            return errors
        embed = mock_hash_provider(self.dims)
        ids = sorted(want)
        vectors = np.asarray(embed([want[c]["content"] for c in ids]), dtype=np.float32)
        for c, vec in zip(ids, vectors):
            g, w = got[c], want[c]
            if (g["document_id"], g["content"], g["token_count"]) != (
                w["document_id"], w["content"], w["token_count"]
            ):
                errors.append(f"chunk {c} differs from the oracle")
                break
            if not np.array_equal(np.asarray(g["embedding"], dtype=np.float32), vec):
                errors.append(f"chunk {c} vector differs from the oracle")
                break
        return errors


def check_search(mode: str, query: str, k: int, results: list[dict], store) -> list[str]:
    """Check one ``lg search`` result list against the collected store."""
    from lovdata_pipeline_spark.embedding import mock_hash_provider

    ids, mat, content = store
    errors: list[str] = []
    scores = [r["score"] for r in results]
    if len(results) > k:
        errors.append(f"{mode} search returned {len(results)} > k={k} hits")
    if any(a < b for a, b in zip(scores, scores[1:])):
        errors.append(f"{mode} search scores increase: {scores}")
    if mode == "keyword":
        terms = query.lower().split()
        for r in results:
            if not any(t in content.get(r["chunk_id"], "").lower() for t in terms):
                errors.append(f"keyword hit {r['chunk_id']} contains no query term")
    if mode == "vector":
        q = np.asarray(mock_hash_provider(mat.shape[1])([query])[0], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        ok = norms > 0
        cos = np.full(len(ids), -np.inf)
        cos[ok] = (mat[ok] @ q) / (norms[ok] * math.sqrt(float(q @ q)))
        top = np.sort(cos[ok])[::-1][:k]
        by_id = dict(zip(ids, cos))
        if len(results) != min(k, int(ok.sum())):
            errors.append(f"vector search returned {len(results)} hits, expected {min(k, int(ok.sum()))}")
        elif not np.allclose(scores, top, atol=2e-6):
            errors.append(f"vector scores {scores} differ from brute force {top.tolist()}")
        for r in results:
            if abs(by_id.get(r["chunk_id"], -9.0) - r["score"]) > 2e-6:
                errors.append(f"vector hit {r['chunk_id']} score differs from brute force")
    return errors


def _norm(v):
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(df):
    """Order-free canonical form of a result frame (tests/test_queries_oracle.py)."""
    cols = sorted(df.columns)
    return sorted(
        (tuple(_norm(v) for v in rec) for rec in df[cols].itertuples(index=False)),
        key=repr,
    )


class QueryOracle:
    """DuckDB over the generated tables, one view per table."""

    def __init__(self, table_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")

    def check(self, name: str, got) -> list[str]:
        from lovdata_pipeline_spark.oracles import ORACLES

        want = self.con.execute(ORACLES[name]).df()
        if len(got) != len(want):
            return [f"{name}: {len(got)} rows, oracle {len(want)}"]
        if sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
            return [f"{name}: columns differ from the oracle"]
        if canon(got) != canon(want):
            return [f"{name}: rows differ from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()
