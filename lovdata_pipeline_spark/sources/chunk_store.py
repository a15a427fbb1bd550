"""Bucketed parquet chunk store — the engine's central table.

Chunks are hash-bucketed by ``document_id`` into a fixed number of
partition directories (``bucket=NN``, bucket ``pmod(xxhash64(id), n)``),
so a document's chunks always live together in one bucket and a point
lookup by document prunes to one directory.

Invariant: a mutation replaces whole documents and rewrites only the
buckets it touches. ``upsert_chunks`` is the one mutation path — after
it, each named document's stored chunks are exactly its incoming rows
(none for a document only named) — and ``delete_documents`` is an upsert
of no rows. The reference's three writes are this one operation: upsert
rewrites the document's whole file, failure cleanup and removal delete
all of its chunks (reference: jsonl_vector_store.py:41-117). Touched
buckets are committed by dynamic partition overwrite, the parquet-only
analog of Delta MERGE; untouched buckets are neither read nor written.
"""

from __future__ import annotations

import shutil
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

    def _write_buckets(self, df: DataFrame) -> None:
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

    def upsert_chunks(self, chunks: DataFrame, documents: DataFrame | None = None) -> int:
        """Make the stored chunks of every document in ``chunks`` or in
        ``documents`` (a ``document_id`` frame) exactly its rows in
        ``chunks``; returns the number of stored chunks replaced.

        A document listed only in ``documents`` ends with no chunks. Only
        the buckets holding a replaced or incoming row are rewritten, once,
        and a bucket left without rows is removed.
        """
        incoming = chunks.withColumn(_BUCKET, self._bucket_col()).select(
            *[f.name for f in _STORED_SCHEMA.fields]
        )
        if not any(Path(self.root).glob(f"{_BUCKET}=*")):
            # First load into an EMPTY store: there are no survivors, and the
            # write plan reads no store files, so the bucket probe, the
            # incoming cache and the lineage cut are all skipped — the
            # chunk→embed output is evaluated exactly once, by the write
            # itself (an empty incoming writes no partitions).
            self._write_buckets(incoming)
            return 0
        # Materialize each side once: upstream of ``chunks`` is typically the
        # whole chunk→embed Python path (with a paid embedding provider a
        # second evaluation is a second round of API calls), and the id set
        # feeds the bucket probe, the aggregate and the rewrite.
        incoming = incoming.cache()
        ids = incoming.select("document_id")
        if documents is not None:
            ids = ids.unionByName(documents.select("document_id"))
        ids = ids.distinct().cache()
        try:
            # A stored document always lives in bucket pmod(xxhash64(id), n)
            # (enforced on write, data-confirmed on legacy opens), so the
            # candidate buckets come from the ids without a store scan.
            cand = [r[0] for r in ids.select(self._bucket_col()).distinct().collect()]
            if not cand:
                return 0
            # Every stored row of the candidate buckets and every incoming
            # row, tagged kept (0), replaced (1) or incoming (2).
            rows = (
                self.read()
                .filter(F.col(_BUCKET).isin(cand))
                .join(ids.withColumn("_tag", F.lit(1)), "document_id", "left")
                .fillna(0, ["_tag"])
                .unionByName(incoming.withColumn("_tag", F.lit(2)))
            )
            tag = F.col("_tag")
            per_bucket = (
                rows.groupBy(_BUCKET)
                .agg(
                    F.count(F.when(tag == 1, 1)).alias("replaced"),
                    F.count(F.when(tag == 2, 1)).alias("incoming"),
                    F.count(F.when(tag != 1, 1)).alias("left"),
                )
                .collect()
            )
            touched = [r for r in per_bucket if r["replaced"] or r["incoming"]]
            rewrite = [r[_BUCKET] for r in touched if r["left"]]
            if rewrite:
                # The rewrite plan reads the very files it replaces, so cut
                # lineage first (with Delta this is one MERGE and the
                # checkpoint disappears).
                self._write_buckets(
                    rows.filter((tag != 1) & F.col(_BUCKET).isin(rewrite))
                    .drop("_tag")
                    .localCheckpoint(eager=True)
                )
            # Dynamic overwrite never writes a partition that ended up empty,
            # so an emptied bucket would keep its old files — drop it
            # explicitly (the reference unlinks emptied JSONL files,
            # jsonl_vector_store.py:104-117).
            emptied = [r[_BUCKET] for r in touched if not r["left"]]
            for b in emptied:
                shutil.rmtree(Path(self.root) / f"{_BUCKET}={b}", ignore_errors=True)
            if emptied:
                self.spark.catalog.refreshByPath(self.root)
            return sum(r["replaced"] for r in per_bucket)
        finally:
            incoming.unpersist()
            ids.unpersist()

    def delete_documents(self, doc_ids: DataFrame) -> int:
        """DELETE WHERE document_id IN (...); returns deleted count
        (contract: vector_store.py:29-41)."""
        return self.upsert_chunks(self._empty(), documents=doc_ids)

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
