"""Bucketed parquet chunk store — the engine's central table.

The reference's vector store contract (reference: domain/vector_store.py:11-63):
upsert by chunk_id, delete by document_id, count, distinct doc ids, point
lookups. Its JSONL backend writes one file per source hash
(jsonl_vector_store.py:19-30) — a small-files disaster at 100 TB.

Scale design here: chunks are hash-bucketed by ``document_id`` into a
fixed number of partition directories (``bucket=NN``). Every mutation
touches only the buckets its documents hash into, committed via dynamic
partition overwrite — Spark's task-commit protocol gives atomic
per-partition replacement, the parquet-only analog of Delta MERGE/DELETE.
Point lookups by document prune to one bucket. At cluster scale you'd
raise ``n_buckets`` (or swap in Delta with the same call sites); the
layout already co-locates a document's chunks, so per-document reads and
replacements never shuffle the whole store.

Documents are replaced wholesale on reprocess (the reference rewrites the
whole per-hash file, jsonl_vector_store.py:41-80), so upsert = delete doc
∪ insert new — equivalent to chunk_id last-wins because chunk ids are
positional per document.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA

_BUCKET = "bucket"
# NOTE: built as a fresh StructType — StructType.add mutates in place and
# would corrupt the shared ENRICHED_CHUNKS_SCHEMA.
_STORED_SCHEMA = T.StructType(
    list(ENRICHED_CHUNKS_SCHEMA.fields) + [T.StructField(_BUCKET, T.IntegerType(), True)]
)


class ChunkStore:
    # roots whose legacy layout the data scan already confirmed THIS
    # process, keyed by (realpath, n_buckets). When the sidecar cannot
    # be written (read-only mount: EROFS/EACCES swallowed below) every
    # open would otherwise repeat the full (document_id, bucket) scan —
    # minutes of I/O per open on a large store (r12 review). The memo
    # keeps the unwritable-store path at one scan per process; a fresh
    # process re-validates, which is the desired behavior for a store
    # that can't persist its pin.
    _data_confirmed: set[tuple[str, int]] = set()

    def __init__(
        self, spark: SparkSession, root: str | Path, n_buckets: int | None = None
    ):
        self.spark = spark
        self.root = str(root)
        Path(self.root).mkdir(parents=True, exist_ok=True)
        # bucket count is part of the on-disk layout: every bucket-pruned
        # lookup, upsert and delete derives the bucket from
        # pmod(hash, n_buckets), so reopening an existing store with a
        # different modulus would silently miss lookups and duplicate
        # reprocessed documents across old and new buckets (r10 review —
        # CLI consumers were reopening 4-bucket test stores with the old
        # default of 32; harmless for their read-only paths, corrupting
        # for a mutation). The count persists in a sidecar on first
        # write; ``n_buckets=None`` (the default) ADOPTS the stored
        # layout (else 32), while an explicit mismatch fails loud —
        # changing it requires a rebuild (read -> new store), exactly
        # like re-bucketing a Hive table.
        meta = Path(self.root) / "_store_meta.json"
        stored = None
        if meta.exists():
            import json as _json

            stored = _json.loads(meta.read_text()).get("n_buckets")
        if n_buckets is None:
            self.n_buckets = stored if stored is not None else 32
        else:
            if stored is not None and stored != n_buckets:
                raise ValueError(
                    f"chunk store at {self.root} was written with "
                    f"n_buckets={stored}; reopening with n_buckets="
                    f"{n_buckets} would corrupt the bucket layout — "
                    "rebuild the store (read + rewrite) to change it"
                )
            self.n_buckets = n_buckets
        # Legacy stores (pre-sidecar, non-empty) get the sidecar pinned ON
        # OPEN, not on the next mutation — otherwise a later open with an
        # explicit wrong modulus still slips past the mismatch guard and
        # silently corrupts the layout (r10 ADVICE). Only an EXPLICIT
        # n_buckets may pin: the bucket directories alone cannot confirm
        # a modulus (max dir < n is necessary, not sufficient), so
        # pinning the 32 DEFAULT onto, say, a legacy 4-bucket store would
        # itself be the corruption — and even read paths are unsafe under
        # a guessed modulus, because chunks_for_document PRUNES to the
        # computed bucket and silently misses (r11 review). A default
        # open of an ambiguous legacy store therefore fails loud.
        if stored is None:
            on_disk = [
                int(p.name.split("=", 1)[1])
                for p in Path(self.root).glob(f"{_BUCKET}=*")
                if p.is_dir() and p.name.split("=", 1)[1].isdigit()
            ]
            if on_disk:
                if n_buckets is None:
                    raise ValueError(
                        f"chunk store at {self.root} predates the "
                        "_store_meta.json sidecar and its bucket modulus "
                        "cannot be inferred from the directories — open it "
                        "once with the explicit original n_buckets (this "
                        "pins the sidecar); even bucket-pruned reads are "
                        "wrong under a guessed modulus"
                    )
                if max(on_disk) >= self.n_buckets:
                    raise ValueError(
                        f"chunk store at {self.root} has bucket directories "
                        f"up to {max(on_disk)} but was opened with n_buckets="
                        f"{self.n_buckets}; the layout was written with a "
                        "larger modulus — open with the original n_buckets "
                        "or rebuild the store"
                    )
                # Directory names alone cannot confirm a modulus — not
                # even all-of-0..n-1-present (r12, r11 ADVICE: a legacy
                # store written with a LARGER modulus whose populated
                # dirs happen to be exactly 0..n-1 would pin the wrong
                # count permanently). Confirm by DATA instead: every
                # stored document_id must hash into the directory that
                # holds it under the claimed modulus. One column-pruned
                # scan of (document_id, bucket), only ever on the
                # one-time legacy-pin path; a full pass proves the
                # layout IS a valid n-bucket store going forward
                # (lookups/deletes/upserts under n all agree with the
                # on-disk placement), so the pin no longer waits for
                # every directory to exist and a provably-wrong
                # explicit modulus fails loud instead of silently
                # mis-pruning this session's reads.
                memo_key = (
                    str(Path(self.root).resolve()),
                    self.n_buckets,
                )
                if memo_key not in ChunkStore._data_confirmed:
                    mismatched = (
                        self.read()
                        .where(F.col(_BUCKET) != self._bucket_col())
                        .limit(1)
                        .count()
                    )
                    if mismatched:
                        raise ValueError(
                            f"chunk store at {self.root} holds documents "
                            f"that do not hash into their bucket "
                            f"directories under n_buckets={self.n_buckets} "
                            "— the layout was written with a different "
                            "modulus; open with the original n_buckets or "
                            "rebuild the store"
                        )
                    ChunkStore._data_confirmed.add(memo_key)
                import errno
                import json as _json

                try:
                    meta.write_text(_json.dumps({"n_buckets": self.n_buckets}))
                except OSError as exc:
                    # ONLY the read-only cases pass silently
                    # (validation above still ran; pinning waits for
                    # a writable open). Swallowing e.g. ENOSPC would
                    # silently leave a WRITABLE store unpinned and
                    # revive the slip-past corruption path this
                    # guard exists to close (r11 review).
                    if exc.errno not in (errno.EROFS, errno.EACCES, errno.EPERM):
                        raise

    def _bucket_col(self):
        return F.pmod(F.xxhash64("document_id"), F.lit(self.n_buckets)).cast("int")

    def _empty(self) -> DataFrame:
        df = self.spark.createDataFrame([], ENRICHED_CHUNKS_SCHEMA)
        return df.withColumn(_BUCKET, F.lit(0).cast("int")).limit(0)

    def read(self) -> DataFrame:
        if not any(Path(self.root).glob(f"{_BUCKET}=*")):
            return self._empty()
        return self.spark.read.schema(_STORED_SCHEMA).parquet(self.root)

    def _write_buckets(self, df: DataFrame, materialized: bool = False) -> None:
        # The rewrite plan reads the same files it replaces, so cut lineage
        # first (localCheckpoint materializes the survivors); with Delta this
        # whole method is a single MERGE and the checkpoint disappears.
        # ``materialized=True`` skips it when the caller already holds a
        # checkpoint of ``df`` (delete_documents — checkpointing twice
        # doubled every delete's materialization I/O, r10 review).
        if not materialized:
            df = df.localCheckpoint(eager=True)
        # Dynamic overwrite: only partitions present in `df` are replaced.
        (
            df.repartition(_BUCKET)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET)
            .parquet(self.root)
        )
        # Session-wide FileStatusCache still lists the replaced files.
        self.spark.catalog.refreshByPath(self.root)
        meta = Path(self.root) / "_store_meta.json"
        # Pin the sidecar only once data actually exists (r14 ADVICE): an
        # empty write creates no bucket partitions, and stamping
        # n_buckets onto a store holding zero data would make a later
        # open of the still-empty store with a different explicit
        # n_buckets fail the mismatch guard for no reason.
        if not meta.exists() and any(Path(self.root).glob(f"{_BUCKET}=*")):
            import json as _json

            meta.write_text(_json.dumps({"n_buckets": self.n_buckets}))

    # -- mutations (op 24 upsert / op 26 delete) ------------------------------

    def upsert_chunks(self, chunks: DataFrame) -> None:
        """Replace all chunks of the incoming documents, insert the rest.

        Touched buckets are recomputed as (survivors ∪ incoming) and
        atomically swapped; untouched buckets are not read or written.
        """
        # Cache the incoming side: the touched-bucket probe AND the write
        # below each materialize it, and upstream is typically the whole
        # chunk→embed Python path — without the cache that pipeline runs
        # twice per upsert. With a real (paid, rate-limited) embedding
        # provider that is double the API calls, not just double compute.
        incoming = chunks.withColumn(_BUCKET, self._bucket_col())
        if not any(Path(self.root).glob(f"{_BUCKET}=*")):
            # First load into an EMPTY store (r13, guide §5/§1.2): there
            # are no survivors to merge and the write plan reads no store
            # files, so the touched-bucket probe, the incoming cache AND
            # the lineage-cut checkpoint (which guards read-what-you-
            # overwrite) are all pure overhead — the chunk→embed output
            # is evaluated exactly ONCE, by the write itself (an empty
            # incoming writes no partitions, the same no-op as before).
            self._write_buckets(
                incoming.select(*[f.name for f in _STORED_SCHEMA.fields]),
                materialized=True,
            )
            return
        incoming = incoming.cache()
        try:
            touched = [r[_BUCKET] for r in incoming.select(_BUCKET).distinct().collect()]
            if not touched:
                return
            existing = self.read().filter(F.col(_BUCKET).isin(touched))
            survivors = existing.join(
                incoming.select("document_id").distinct(), "document_id", "left_anti"
            )
            self._write_buckets(survivors.unionByName(incoming.select(*survivors.columns)))
        finally:
            incoming.unpersist()

    def delete_documents(self, doc_ids: DataFrame) -> int:
        """DELETE WHERE document_id IN (...); returns deleted count
        (contract: vector_store.py:29-41)."""
        # Materialize the id set once: callers may pass join-heavy frames,
        # and the bucket probe, the hit tally and the keep rewrite would
        # each re-run that work otherwise.
        ids = doc_ids.select("document_id").distinct().localCheckpoint(eager=True)
        # Bucket-prune the probe FROM THE IDS (r13, guide §6 / the class's
        # own point-lookup doctrine): the layout invariant — every stored
        # document lives in bucket pmod(xxhash64(document_id), n_buckets),
        # enforced on write and data-confirmed on legacy opens — means the
        # candidate buckets are computable without touching the store. An
        # empty delete set (the common per-run pipeline case) now costs
        # one tiny job over the ids instead of a full store scan, and a
        # real delete scans only its candidate buckets.
        cand = [
            r["_b"]
            for r in ids.select(self._bucket_col().alias("_b")).distinct().collect()
        ]
        if not cand:
            return 0
        store = self.read().filter(F.col(_BUCKET).isin(cand))
        # One job gives both the buckets to rewrite and the deleted count.
        hits = {
            r[_BUCKET]: r["count"]
            for r in store.join(ids, "document_id", "left_semi")
            .groupBy(_BUCKET)
            .count()
            .collect()
        }
        if not hits:
            return 0
        touched = list(hits)
        # Materialize BEFORE the overwrite — the lazy plan references the
        # very files the write replaces.
        keep = (
            store.filter(F.col(_BUCKET).isin(touched))
            .join(ids, "document_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        self._write_buckets(keep, materialized=True)
        # Dynamic overwrite never writes a partition that ended up empty, so
        # a fully-emptied bucket would keep its old files — drop it explicitly
        # (the analog of the reference unlinking emptied JSONL files,
        # jsonl_vector_store.py:104-117).
        import shutil

        remaining = {r[_BUCKET] for r in keep.select(_BUCKET).distinct().collect()}
        for b in set(touched) - remaining:
            shutil.rmtree(Path(self.root) / f"{_BUCKET}={b}", ignore_errors=True)
        self.spark.catalog.refreshByPath(self.root)
        return sum(hits.values())

    # NOTE on file counts: no compaction op is needed in this layout.
    # Every mutation rewrites its touched buckets *wholesale* (dynamic
    # partition overwrite replaces the partition's files, and
    # repartition(_BUCKET) gives one task — hence one file — per bucket),
    # so a bucket directory holds exactly one data file at all times and
    # small files never accumulate. If a single bucket outgrows one
    # healthy file at scale, the levers are raising n_buckets or
    # `spark.sql.files.maxRecordsPerFile` — not an OPTIMIZE pass.

    # -- queries (ops 28-30) ----------------------------------------------------

    def count(self) -> int:
        return self.read().count()

    def distinct_document_ids(self) -> DataFrame:
        return self.read().select("document_id").distinct()

    def chunks_for_document(self, doc_id: str) -> DataFrame:
        # Bucket pruning: the predicate on the partition column means only
        # one directory is scanned.
        bucket = F.pmod(F.xxhash64(F.lit(doc_id)), F.lit(self.n_buckets)).cast("int")
        return self.read().filter(
            (F.col(_BUCKET) == bucket) & (F.col("document_id") == doc_id)
        )

    def chunks_for_source_hash(self, source_hash: str) -> DataFrame:
        return self.read().filter(F.col("source_hash") == source_hash)
