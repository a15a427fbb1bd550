"""CLI — the reference's user surface (`lg process|migrate|status|validate`,
reference: cli.py:18-487), argparse-based.

  python -m lovdata_pipeline_spark.cli process  --corpus DIR --store DIR --state DIR [--force] [--limit N] [--datasets PAT]
  python -m lovdata_pipeline_spark.cli status   --state DIR
  python -m lovdata_pipeline_spark.cli validate --store DIR --state DIR
  python -m lovdata_pipeline_spark.cli migrate  --source-format parquet|jsonl --source DIR --target-format jsonl|parquet --target DIR
  python -m lovdata_pipeline_spark.cli curate   --input PARQUET --output DIR [--benchmark PARQUET] [--mix RATES | --temperature A] [--seq-len N]
  python -m lovdata_pipeline_spark.cli split    --input PARQUET --output DIR [--weights train=0.8,val=0.1,test=0.1] [--seed S]
  python -m lovdata_pipeline_spark.cli report   --input PARQUET [--benchmark PARQUET]
  python -m lovdata_pipeline_spark.cli pack     --input PARQUET --output DIR [--manifest DIR] [--seq-len N]
  python -m lovdata_pipeline_spark.cli analyze  --input PARQUET [--output DIR] [--keywords K] [--pairs K]
  python -m lovdata_pipeline_spark.cli sample   --input PARQUET --output DIR [--mode quota|weighted] [--k N] [--weight-col COL] [--seed S]

Exit codes mirror the reference: process exits 1 if any document failed
(cli.py:156-158); validate exits 1 on inconsistency (cli.py:446-481).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(name: str):
    from lovdata_pipeline_spark.session import get_spark

    return get_spark(name)


def cmd_process(args) -> int:
    from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
    from lovdata_pipeline_spark.pipeline import run_pipeline
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
    from lovdata_pipeline_spark.sources.state_store import StateStore
    from lovdata_pipeline_spark.sources.xml_corpus import read_xml_corpus

    spark = _spark("lg-process")
    store = ChunkStore(spark, args.store)
    state = StateStore(spark, args.state)

    from pyspark.sql import functions as F

    # Every scanned file enters as ``added``: the pipeline's anti-join on
    # (doc_id, hash) against PROCESSED state keeps the new, modified and
    # previously failed documents (failed ones are retried every pass,
    # reference state.is_processed, state.py:77-81). Removed documents
    # come from the FULL state, so deleting a failed doc's file still
    # drops its state row.
    docs = read_xml_corpus(spark, args.corpus)
    removed = state.read().join(docs.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.lit(None).cast("string").alias("dataset_name"),
        F.lit(None).cast("string").alias("relative_path"),
        F.lit(None).cast("string").alias("xml"),
        F.col("hash").alias("source_hash"),
        F.lit("removed").alias("status"),
    )

    cfg = PipelineConfig(
        dataset_pattern=args.datasets,
        force=args.force,
        limit=args.limit,
        chunk=ChunkParams(
            target_tokens=args.target_tokens,
            max_tokens=args.max_tokens,
            min_tokens=args.min_tokens,
            overlap_ratio=args.overlap_ratio,
        ),
        embedding_dims=args.embedding_dims,
    )
    result = run_pipeline(docs.unionByName(removed), store, state, cfg)
    print(
        json.dumps(
            {
                "processed": result.processed,
                "failed": result.failed,
                "removed": result.removed,
            }
        )
    )
    return 1 if result.failed else 0


def cmd_status(args) -> int:
    from lovdata_pipeline_spark.sources.state_store import StateStore

    spark = _spark("lg-status")
    state = StateStore(spark, args.state)
    counts = {r["status"]: r["count"] for r in state.status_counts().collect()}
    print(
        json.dumps(
            {"processed": counts.get("processed", 0), "failed": counts.get("failed", 0)}
        )
    )
    return 0


def cmd_validate(args) -> int:
    from lovdata_pipeline_spark.operators.validation import validate
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
    from lovdata_pipeline_spark.sources.state_store import StateStore

    spark = _spark("lg-validate")
    if args.table:
        # data-expectations mode: per-column stats + PK contract over an
        # arbitrary parquet; exits 1 when --pk fails unique_nonnull
        from lovdata_pipeline_spark.operators.validation import expectations_report

        df = spark.read.parquet(args.table)
        cols = (
            [c.strip() for c in args.cols.split(",") if c.strip()]
            if args.cols
            else df.columns
        )
        rows = [
            r.asDict()
            for r in expectations_report(df, cols, approx=args.approx)
            .orderBy("col_name")
            .collect()
        ]
        pk_ok = True
        if args.pk:
            # the pk CONTRACT is always exact, even when the wide audit
            # ran approx (HLL can't certify uniqueness)
            if args.approx:
                exact = expectations_report(df, [args.pk]).collect()[0]
                pk_ok = bool(exact["unique_nonnull"])
            else:
                pk_ok = any(
                    r["col_name"] == args.pk and r["unique_nonnull"]
                    for r in rows
                )
        print(
            json.dumps(
                {
                    "table": args.table,
                    "pk_ok": pk_ok,
                    "approx": bool(args.approx),
                    "columns": rows,
                }
            )
        )
        return 0 if pk_ok else 1
    if not (args.store and args.state):
        print(json.dumps({"error": "need --store and --state (or --table)"}))
        return 2
    store = ChunkStore(spark, args.store)
    state = StateStore(spark, args.state)
    result = validate(state.processed(), store.distinct_document_ids())
    print(
        json.dumps(
            {
                "consistent": result.consistent,
                "in_state_not_store": result.in_state_not_store,
                "in_store_not_state": result.in_store_not_state,
            }
        )
    )
    return 0 if result.consistent else 1


def cmd_search(args) -> int:
    """Search over the chunk store — the command the reference documents
    but never implemented (docs/GUIDE.md:162-194; its cli.py has no
    search). Three modes: ``vector`` (cosine top-k over embeddings, the
    reference's promised semantics), ``keyword`` (BM25 over chunk
    content), ``hybrid`` (both, fused by reciprocal rank)."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.embedding import mock_hash_provider
    from lovdata_pipeline_spark.operators.search import bm25_topk, rrf_fuse
    from lovdata_pipeline_spark.operators.similarity import cosine_topk
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

    mode = getattr(args, "mode", "vector")
    spark = _spark("lg-search")
    store = ChunkStore(spark, args.store)
    chunks = store.read().filter(F.col("embedding").isNotNull())
    dims_row = chunks.select(F.size("embedding").alias("d")).first()
    if dims_row is None:
        print(json.dumps({"results": []}))
        return 0

    def vector_top(k):
        provider = mock_hash_provider(dims_row["d"])
        query_vec = provider([args.query])[0]
        return cosine_topk(chunks, query_vec, k=k, id_col="chunk_id", vec_col="embedding")

    terms = [t for t in args.query.lower().split() if t]
    if not terms and mode == "keyword":
        # a whitespace-only query has no lexical signal; mirror the
        # empty-store behavior instead of letting bm25_topk raise
        print(json.dumps({"results": []}))
        return 0
    if not terms and mode == "hybrid":
        mode = "vector"  # degrade gracefully: the vector arm still works

    def keyword_top(k):
        return bm25_topk(chunks, terms, k=k, id_col="chunk_id", text_col="content")

    if mode == "vector":
        top = vector_top(args.k)
    elif mode == "keyword":
        top = keyword_top(args.k)
    else:  # hybrid: fuse the two k-deep lists, keep the fused score
        top = rrf_fuse(
            keyword_top(args.k), vector_top(args.k), id_col="chunk_id", k=args.k
        ).withColumnRenamed("rrf_score", "score")
    hits = top.join(
        chunks.select("chunk_id", "document_id", "section_heading", "content"),
        "chunk_id",
    ).orderBy(F.col("score").desc())
    print(
        json.dumps(
            {
                "results": [
                    {
                        "chunk_id": r.chunk_id,
                        "document_id": r.document_id,
                        "score": r.score,
                        "section_heading": r.section_heading,
                        "content": (r.content or "")[:200],
                    }
                    for r in hits.collect()
                ]
            },
            ensure_ascii=False,
        )
    )
    return 0


def cmd_curate(args) -> int:
    """Curate a documents parquet into a training-ready corpus: optional
    PII gate/redaction, exact fingerprint dedup, benchmark
    decontamination, deterministic domain mixing, quality annotation,
    and fixed-length sequence assignment — the CLI surface of the
    pretraining_pipeline registry query, each stage opt-in. Prints one
    JSON line of per-stage row counts."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import decontam, textstats
    from lovdata_pipeline_spark.operators.packing import pack_token_sequences
    from lovdata_pipeline_spark.operators.sampling import (
        stratified_sample,
        temperature_sample,
    )

    spark = _spark("lg-curate")
    id_col, text_col, strata_col = args.id_col, args.text_col, args.strata_col
    cur = spark.read.parquet(args.input)
    stages: dict[str, int] = {"input": cur.count()}

    if args.pii == "drop":
        # coalesce: NULL text contains no PII; without it the NULL
        # propagates through the predicate and silently drops the row
        safe = F.coalesce(F.col(text_col), F.lit(""))
        cur = cur.filter(
            (F.size(F.regexp_extract_all(safe, F.lit(textstats.EMAIL_RE), F.lit(0))) == 0)
            & (F.size(F.regexp_extract_all(safe, F.lit(textstats.PHONE_RE), F.lit(0))) == 0)
        )
    elif args.pii == "redact":
        cur = cur.withColumn(
            text_col,
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), textstats.EMAIL_RE, "[EMAIL]"),
                textstats.PHONE_RE,
                "[PHONE]",
            ),
        )
    cur = cur.cache()
    stages["after_pii"] = cur.count()

    if not args.no_dedup:
        # coalesce: md5(normalized(NULL)) is NULL and a NULL join key
        # silently drops the row; NULL and empty texts instead dedup
        # together as one "no content" group
        fp = cur.withColumn(
            "_fp", F.md5(F.coalesce(textstats._normalized(text_col), F.lit("")))
        )
        keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
        cur = fp.join(keep, ["_fp", id_col]).drop("_fp").cache()
        stages["after_dedup"] = cur.count()

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        cur = decontam.decontaminate(
            cur, bench, n=args.ngram, text_col=text_col, id_col=id_col
        ).cache()
        stages["after_decontam"] = cur.count()

    if args.mix:
        rates = {}
        for part in args.mix.split(","):
            k, _, v = part.partition("=")
            rates[k.strip()] = float(v)
        cur = stratified_sample(cur, rates, strata_col, id_col, seed=args.seed).cache()
        stages["after_mix"] = cur.count()
    elif args.temperature is not None:
        cur = temperature_sample(
            cur, strata_col, id_col, alpha=args.temperature, seed=args.seed
        ).cache()
        stages["after_mix"] = cur.count()

    stats = textstats.hashed_linear_quality(cur, text_col, id_col).select(
        id_col, "n_tokens", "quality_logit"
    )
    out = cur.join(stats, id_col)
    if args.seq_len:
        seqs = pack_token_sequences(
            stats.select(id_col, "n_tokens"), seq_len=args.seq_len, id_col=id_col
        ).drop("n_tokens")
        out = out.join(seqs, id_col)
    out.write.mode("overwrite").parquet(args.output)
    if args.seq_len:
        from lovdata_pipeline_spark.operators.packing import release_offsets_caches

        release_offsets_caches()  # the write above was the final action
    stages["output"] = spark.read.parquet(args.output).count()
    print(json.dumps({"stages": stages, "output_path": args.output}))
    return 0


def cmd_split(args) -> int:
    """Deterministic train/val/test split of a documents parquet: adds a
    `split` column via the append-stable portable-hash range rule and
    writes the result partitioned by split. Prints one JSON line of
    per-split counts."""
    import json as _json

    from lovdata_pipeline_spark.operators.sampling import hash_split, stratified_split

    spark = _spark("lg-split")
    weights = {}
    for part in args.weights.split(","):
        name, _, frac = part.partition("=")
        weights[name.strip()] = float(frac)
    if args.stratified:
        # exact-count per-stratum split: fractions become integer
        # percents (the operator's thresholds are exact integer
        # arithmetic; 0.8 -> 80). Reject weights that don't round to
        # a clean percent grid instead of silently reshaping them.
        splits = []
        for name, frac in weights.items():
            pct = round(frac * 100) if frac <= 1 else round(frac)
            if abs(pct - frac * (100 if frac <= 1 else 1)) > 1e-9:
                print(f"error: weight {name}={frac} is not a whole percent")
                return 2
            splits.append((name, int(pct)))
        out = stratified_split(
            spark.read.parquet(args.input),
            tuple(splits),
            strata_col=args.stratified,
            id_col=args.id_col,
            seed=args.seed,
        )
    else:
        out = hash_split(
            spark.read.parquet(args.input), weights, args.id_col, args.seed
        )
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    counts = {
        r["split"]: r["n"]
        for r in spark.read.parquet(args.output)
        .groupBy("split")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    print(_json.dumps({"splits": counts, "output_path": args.output}))
    return 0


def cmd_report(args) -> int:
    """Per-source curation report over a documents parquet: doc/token
    inventory plus what the Gopher gate, quality classifier, exact dedup
    and (optional) benchmark decontamination would each cut. Prints one
    JSON line per source. Thin wrapper over the SAME
    ``queries.build_curation_report`` composition the graded query uses
    — one definition, no drift."""
    import json as _json

    from lovdata_pipeline_spark.queries import build_curation_report

    spark = _spark("lg-report")
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    rows = build_curation_report(
        docs,
        bench,
        id_col=args.id_col,
        text_col=args.text_col,
        strata_col=args.strata_col,
        n=args.ngram,
    ).collect()
    for r in rows:
        print(_json.dumps(r.asDict()))
    return 0


def cmd_pack(args) -> int:
    """Materialize fixed-length training sequences from a documents
    parquet (the sequence emitter): writes (seq_id, n_docs,
    n_tokens_filled, seq_text) plus, optionally, the per-sequence
    manifest. Prints one JSON line of sequence accounting."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats
    from lovdata_pipeline_spark.operators.packing import (
        emit_token_sequences,
        release_offsets_caches,
        sequence_manifest,
    )

    spark = _spark("lg-pack")
    docs = spark.read.parquet(args.input)
    seqs = emit_token_sequences(
        docs, seq_len=args.seq_len, id_col=args.id_col, text_col=args.text_col
    )
    seqs.write.mode("overwrite").parquet(args.output)
    if args.manifest:
        counts = docs.select(
            args.id_col,
            textstats.token_count_col(args.text_col).alias("n_tokens"),
        )
        sequence_manifest(counts, seq_len=args.seq_len, id_col=args.id_col).write.mode(
            "overwrite"
        ).parquet(args.manifest)
    release_offsets_caches()  # the writes above were the final actions
    out = spark.read.parquet(args.output)
    stats = out.agg(
        F.count("*").alias("n"), F.sum("n_tokens_filled").alias("t")
    ).first()
    print(
        _json.dumps(
            {
                "n_sequences": stats["n"],
                "n_tokens": int(stats["t"] or 0),
                "seq_len": args.seq_len,
                "output_path": args.output,
            }
        )
    )
    return 0


def cmd_analyze(args) -> int:
    """Corpus diagnostics over a documents parquet: per-group TF-IDF
    keywords, top BPE symbol pairs, detected-language distribution, a
    log2-bucketed token-length histogram, and the per-group vocabulary
    drift (smoothed KL vs the corpus). Thin wrapper over the SAME
    textstats operators the graded queries use; optionally writes each
    table under ``--output``, always prints one JSON summary line."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats

    spark = _spark("lg-analyze")
    docs = spark.read.parquet(args.input)
    kw = textstats.tfidf_keywords(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        group_col=args.group_col,
        k=args.keywords,
    )
    pairs = textstats.bpe_pair_counts(docs, text_col=args.text_col, k=args.pairs)
    drift = textstats.vocab_drift(
        docs, text_col=args.text_col, group_col=args.group_col
    )
    langs = (
        textstats.language_id(docs, args.text_col, args.id_col)
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    bpe_totals = None
    if getattr(args, "bpe", None):
        # re-tokenize the corpus under a PREVIOUSLY trained merge table
        # (versioned artifact written by `lg tokenizer --output`)
        bpe_merges = textstats.load_bpe_merges(spark, args.bpe)
        bpe_totals = (
            textstats.bpe_apply(
                docs, bpe_merges, text_col=args.text_col, id_col=args.id_col
            )
            .agg(
                F.sum("n_words").alias("w"),
                F.sum("n_bpe_tokens").alias("b"),
            )
            .first()
        )
    comp = None
    if args.compression:
        comp = (
            textstats.compression_signals(
                docs, text_col=args.text_col, id_col=args.id_col
            )
            .join(docs.select(args.id_col, args.group_col), args.id_col)
            .groupBy(args.group_col)
            .agg(
                F.round(F.avg("compression_ratio"), 4).alias("mean_ratio"),
                F.sum((~F.col("comp_keep")).cast("long")).alias("n_out_of_band"),
            )
        )
    # log2 length buckets: bucket b holds docs with 2^b <= n_tokens < 2^(b+1)
    # (empty AND NULL-text docs land in bucket -1 — token_count_col(NULL)
    # is NULL under ANSI, which the <= 0 guard alone would pass through
    # as a NULL bucket and crash the driver-side int() below; r5 ADVICE).
    hist = (
        docs.select(
            F.coalesce(
                textstats.token_count_col(args.text_col), F.lit(0)
            ).alias("n_tokens")
        )
        .select(
            F.when(F.col("n_tokens") <= 0, F.lit(-1))
            .otherwise(F.floor(F.log2("n_tokens")))
            .cast("int")
            .alias("log2_bucket")
        )
        .groupBy("log2_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    if args.output:
        # write once, summarize from the written files — each table's
        # lineage rescans the corpus, so summarizing the DataFrames
        # directly would double every scan
        kw.write.mode("overwrite").parquet(f"{args.output}/keywords")
        pairs.write.mode("overwrite").parquet(f"{args.output}/bpe_pairs")
        langs.write.mode("overwrite").parquet(f"{args.output}/languages")
        hist.write.mode("overwrite").parquet(f"{args.output}/length_histogram")
        drift.write.mode("overwrite").parquet(f"{args.output}/vocab_drift")
        kw = spark.read.parquet(f"{args.output}/keywords")
        pairs = spark.read.parquet(f"{args.output}/bpe_pairs").orderBy(
            F.col("n_occurrences").desc(), "pair"
        )
        langs = spark.read.parquet(f"{args.output}/languages")
        hist = spark.read.parquet(f"{args.output}/length_histogram")
        drift = spark.read.parquet(f"{args.output}/vocab_drift")
        if comp is not None:
            comp.write.mode("overwrite").parquet(f"{args.output}/compression")
            comp = spark.read.parquet(f"{args.output}/compression")
    drift_rows = {
        r[args.group_col]: r["kl_vs_corpus"] for r in drift.collect()
    }
    lang_rows = {r["detected_lang"]: r["n_docs"] for r in langs.collect()}
    hist_rows = {int(r["log2_bucket"]): r["n_docs"] for r in sorted(
        hist.collect(), key=lambda r: r["log2_bucket"])}
    top_pairs = [[r["pair"], r["n_occurrences"]] for r in pairs.limit(5).collect()]
    print(
        _json.dumps(
            {
                "n_docs": docs.count(),
                "n_keyword_groups": kw.select(args.group_col).distinct().count(),
                "languages": lang_rows,
                "length_histogram_log2": hist_rows,
                "top_bpe_pairs": top_pairs,
                "vocab_drift_kl": drift_rows,
                **(
                    {
                        "bpe_artifact": args.bpe,
                        "corpus_whitespace_tokens": int(bpe_totals["w"] or 0),
                        "corpus_bpe_tokens": int(bpe_totals["b"] or 0),
                    }
                    if bpe_totals is not None
                    else {}
                ),
                **(
                    {
                        "compression_by_group": {
                            r[args.group_col]: [r["mean_ratio"], r["n_out_of_band"]]
                            for r in comp.collect()
                        }
                    }
                    if comp is not None
                    else {}
                ),
            }
        )
    )
    # the drift collect above was the final action on the pinned frame
    textstats.release_textstats_caches()
    return 0


def cmd_clean(args) -> int:
    """Text-level cleanup over a documents parquet: strip per-group
    boilerplate lines (frequency rule), then deduplicate paragraphs
    across documents (global first-occurrence survives), then — when
    ``--needles`` is given — excise benchmark needle occurrences
    (span-level decontamination surgery) — the crawl-chrome +
    copy-paste + eval-leak cleanup pass that runs BEFORE document-
    level dedup/quality gates. Writes the rewritten corpus, prints one
    JSON accounting line. Thin wrapper over the same operators the
    graded queries drive."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats
    from lovdata_pipeline_spark.operators.decontam import remove_contaminated_spans
    from lovdata_pipeline_spark.operators.dedup import remove_duplicate_paragraphs

    spark = _spark("lg-clean")
    docs = spark.read.parquet(args.input)
    # frames pinned below — released individually after the write, so a
    # long-lived shared session keeps its other caches (r8 VERDICT
    # "What's wrong" #3: a blanket clearCache evicted unrelated frames)
    pinned = []
    out = docs.select(args.id_col, args.group_col, args.text_col)
    if not args.no_boilerplate:
        out = textstats.strip_boilerplate_lines(
            out,
            text_col=args.text_col,
            id_col=args.id_col,
            group_col=args.group_col,
            min_frac=args.boilerplate_min_frac,
        ).select(args.id_col, args.group_col, "n_stripped", args.text_col)
    if not args.no_paragraph_dedup:
        # dedup rewrites (id, text); the narrow metadata columns ride back
        # on an id join (the text itself still never shuffles). The sep
        # arrives shell-escaped ('\n' = backslash-n) — decode ONLY the
        # common escapes: a bytes round-trip through unicode_escape
        # mojibakes any non-ASCII separator (UTF-8 bytes re-read as
        # latin-1, r6 review).
        sep = (
            args.paragraph_sep.replace("\\r", "\r")
            .replace("\\n", "\n")
            .replace("\\t", "\t")
        )
        if not args.no_boilerplate:
            # both branches below (meta + the dedup rewrite) read the
            # stripped frame — unpinned, the whole strip pipeline
            # (explode + countDistinct + join + splice) evaluates twice
            out = out.persist()
            pinned.append(out)
            out.count()
        meta = out.drop(args.text_col)
        deduped = remove_duplicate_paragraphs(
            out.select(args.id_col, args.text_col),
            text_col=args.text_col,
            id_col=args.id_col,
            sep=sep,
        ).select(args.id_col, "n_dropped", args.text_col)
        out = meta.join(deduped, args.id_col)
    if args.needles:
        # the surgery rewrite fans out twice (meta + surgery input) —
        # pin unless `out` is still the bare input scan
        if not (args.no_boilerplate and args.no_paragraph_dedup):
            out = out.persist()
            pinned.append(out)
            out.count()
        surg = remove_contaminated_spans(
            out.select(args.id_col, args.text_col),
            spark.read.parquet(args.needles),
            text_col=args.text_col,
            id_col=args.id_col,
            needle_text_col=args.needle_text_col,
            anchor_n=args.anchor_n,
            keep_text=True,
        ).select(
            args.id_col,
            "n_needles_hit",
            "n_tokens_removed",
            F.col("clean_text").alias(args.text_col),
        )
        out = out.drop(args.text_col).join(surg, args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    for df in pinned:  # release exactly what this command pinned
        df.unpersist()
    written = spark.read.parquet(args.output)
    agg = [F.count(F.lit(1)).alias("n_docs")]
    if "n_dropped" in written.columns:
        agg.append(F.sum("n_dropped").alias("paragraphs_dropped"))
    if "n_stripped" in written.columns:
        agg.append(F.sum("n_stripped").alias("lines_stripped"))
    if "n_tokens_removed" in written.columns:
        agg.append(F.sum("n_tokens_removed").alias("tokens_excised"))
        agg.append(
            F.sum((F.col("n_needles_hit") > 0).cast("long")).alias("docs_contaminated")
        )
    row = written.agg(*agg).first().asDict()
    print(
        _json.dumps(
            {**{k: int(v or 0) for k, v in row.items()}, "output_path": args.output}
        )
    )
    return 0


def cmd_plan(args) -> int:
    """Mixture planning over a documents parquet: per group, the token
    inventory, natural corpus share, and the epoch multiplier that
    equalizes it to a uniform mix — the numbers a data lead feeds into
    ``lg curate --mix`` / ``epoch_mix``. One JSON line per group."""
    import json as _json

    from pyspark.sql import Window, functions as F

    from lovdata_pipeline_spark.operators import textstats

    spark = _spark("lg-plan")
    docs = spark.read.parquet(args.input)
    per = (
        docs.select(args.group_col, textstats.token_count_col(args.text_col).alias("_t"))
        .groupBy(args.group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    rows = (
        per.select(
            args.group_col,
            "n_docs",
            "n_tokens",
            # zero guards mirror the graded query (r6 review): NULL for
            # degenerate cells instead of an ANSI DIVIDE_BY_ZERO crash
            F.when(F.sum("n_tokens").over(w) == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w),
                    6,
                )
            )
            .alias("natural_share"),
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.sum("n_tokens").over(w).cast("double")
                    / (F.count(F.lit(1)).over(w) * F.col("n_tokens")),
                    6,
                )
            )
            .alias("epochs_uniform"),
        )
        .orderBy(args.group_col)
        .collect()
    )
    for r in rows:
        print(_json.dumps(r.asDict()))
    return 0


def cmd_reduce(args) -> int:
    """Dimensionality reduction over an embeddings parquet: fit the
    distributed PCA (quantized-Gram one-pass), write the projected
    vectors to ``--output`` (all non-vector columns pass through, the
    reduced vector lands in ``--out-col``), and print one JSON summary
    line with the explained-variance profile. The standard pre-step
    before building an ANN index or running semantic dedup at scale."""
    import json as _json

    from lovdata_pipeline_spark.operators import reduction

    spark = _spark("lg-reduce")
    emb = spark.read.parquet(args.input)
    model = reduction.pca_fit(emb, k=args.k, vec_col=args.vec_col)
    projected = reduction.pca_project(
        emb, model, vec_col=args.vec_col, out_col=args.out_col
    )
    projected.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    evr = [round(float(v), 6) for v in model.explained_variance_ratio]
    print(
        _json.dumps(
            {
                "n_vecs": model.n_vecs,
                "n_projected": n_out,
                "k": args.k,
                "explained_variance_ratio": evr,
                "explained_total": round(float(sum(evr)), 6),
                "output": args.output,
            }
        )
    )
    return 0


def cmd_classifier(args) -> int:
    """Train or apply a hashed-BoW logistic-regression quality
    classifier. Train mode (``--label-col``): full-batch GD over the
    corpus, weight table written as a versioned artifact
    (``--output``). Apply mode (``--model``): score a corpus under a
    saved table, write (id, clf_logit, clf_score, clf_keep) parquet to
    ``--output``. One JSON summary line either way."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats

    spark = _spark("lg-classifier")
    docs = spark.read.parquet(args.input)
    if args.label_col:
        w = textstats.train_text_classifier(
            docs,
            args.label_col,
            n_buckets=args.buckets,
            iterations=args.iterations,
            lr=args.lr,
            text_col=args.text_col,
            id_col=args.id_col,
        )
        textstats.save_classifier(w, args.output)
        nz = w.filter(F.col("weight_q") != 0).count()
        print(
            _json.dumps(
                {
                    "mode": "train",
                    "n_buckets": args.buckets,
                    "iterations": args.iterations,
                    "nonzero_weights": nz,
                    "output": args.output,
                }
            )
        )
        return 0
    if not args.model:
        print(_json.dumps({"error": "need --label-col (train) or --model (apply)"}))
        return 2
    wq, seed = textstats.load_classifier(spark, args.model)
    scored = textstats.apply_text_classifier(
        docs, wq, text_col=args.text_col, id_col=args.id_col, seed=seed
    )
    scored.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    kept = out.filter(F.col("clf_keep")).count()
    print(
        _json.dumps(
            {
                "mode": "apply",
                "n_docs": out.count(),
                "n_keep": kept,
                "model": args.model,
                "output": args.output,
            }
        )
    )
    return 0


def cmd_rank(args) -> int:
    """Graph centrality over an embeddings parquet (the graph family's
    CLI face, r7 VERDICT Next #7): build the exact (or
    ``--candidates ivf`` sublinear) k-NN cosine graph, optionally
    persist the edge list with ``--edges-output``, run the
    integer-exact damped PageRank, and print the ``--top`` most
    central nodes as JSON lines. ``--edges`` ranks a PREVIOUSLY saved
    edge parquet instead — re-ranking (different damping/iterations)
    never rebuilds the graph, the expensive stage."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.graph import knn_edges, pagerank_quantized

    spark = _spark("lg-rank")
    if args.edges:
        if args.index_path:
            # same fail-loud contract as the --input branch below: saved
            # edges are ranked as-is — an index (or --candidates/--k)
            # cannot influence them, so silently accepting the flag
            # would defeat the caller's incremental intent (r10 review)
            print(
                "error: --index-path has no effect with --edges "
                "(saved edges are ranked as-is; rebuild with --input "
                "to consult an index)"
            )
            return 2
        edges = spark.read.parquet(args.edges)
    else:
        if not args.input:
            print("error: need --input embeddings (or --edges saved-edge parquet)")
            return 2
        if args.index_path and args.candidates != "ivf":
            # r9 ADVICE: the default --candidates blocked would silently
            # run the full exact build and never open the index
            print(
                "error: --index-path requires --candidates ivf "
                f"(got --candidates {args.candidates})"
            )
            return 2
        emb = spark.read.parquet(args.input)
        edges = knn_edges(
            emb,
            k=args.k,
            id_col=args.id_col,
            vec_col=args.vec_col,
            candidates=args.candidates,
            n_cells=args.cells,
            n_probe=args.probe,
            index_path=args.index_path,
        )
        if args.edges_output:
            edges.write.mode("overwrite").parquet(args.edges_output)
            edges = spark.read.parquet(args.edges_output)
            print(_json.dumps({"edges": args.edges_output, "status": "written"}))
    ranks = pagerank_quantized(
        edges, damping_pct=args.damping_pct, n_iter=args.iterations
    )
    out = ranks.orderBy(F.col("rank_q").desc(), "node").limit(args.top)
    for row in out.collect():
        print(_json.dumps(row.asDict()))
    return 0


def cmd_index(args) -> int:
    """Build a PERSISTED IVF index over an embeddings parquet: the
    corpus rewritten as parquet PARTITIONED BY cell plus an
    ``_ivf_params.json`` sidecar (version + centroids). Probing the
    index (``similarity.ivf_index_topk``) reads only the probed cell
    directories — Catalyst partition pruning, so search cost is
    n_probe/n_cells of the index at any scale. ``--refine N`` runs N
    exact-integer Lloyd iterations for better cell balance (production
    indexes; unrefined portable seeds stay oracle-replayable). Prints
    one JSON summary line with per-cell row counts."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import similarity

    if args.graph and args.refine:
        print(
            "error: --refine applies to the raw-space search index only; "
            "the --graph geometry uses portable seeds (oracle-replayable)"
        )
        return 2
    spark = _spark("lg-index")
    emb = spark.read.parquet(args.input)
    if args.graph:
        # the k-NN graph's geometry: unit-sphere cells consumable by
        # `lg rank --candidates ivf --index-path` (r9)
        from lovdata_pipeline_spark.operators.graph import knn_write_ivf_index

        cents = knn_write_ivf_index(
            emb,
            args.output,
            n_cells=args.cells,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
    else:
        cents = similarity.ivf_write_index(
            emb,
            args.output,
            n_cells=args.cells,
            id_col=args.id_col,
            vec_col=args.vec_col,
            portable=args.refine == 0,
            refine_iterations=args.refine,
        )
    cells = {
        str(r["cell"]): r["n"]
        for r in spark.read.parquet(args.output)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        _json.dumps(
            {
                "n_cells": len(cents),
                "refine_iterations": args.refine,
                "rows_per_cell": dict(sorted(cells.items(), key=lambda kv: int(kv[0]))),
                "output": args.output,
            }
        )
    )
    return 0


def cmd_quantize(args) -> int:
    """Scalar (SQ8) quantization over an embeddings parquet: fit the
    per-dimension min/max (one scan, exact), write (id, codes) —
    one byte of information per dimension, the 4× storage/memory tier
    below PQ — plus the fit parameters as ``_sq8_params.json`` inside
    the output directory (the ``_`` prefix keeps parquet readers from
    listing it). Print one JSON summary line. Decode is the affine map
    mn + code·(mx − mn)/255 with the stored arrays."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import similarity

    spark = _spark("lg-quantize")
    emb = spark.read.parquet(args.input)
    # NULL-filter the probe (like reduction.pca_fit): a leading NULL
    # vector must not abort the command when valid vectors exist
    first = (
        emb.select(args.vec_col)
        .filter(F.col(args.vec_col).isNotNull())
        .first()
    )
    if first is None:
        print(_json.dumps({"error": "no vectors found", "input": args.input}))
        return 1
    dims = len(first[0])
    mins, maxs = similarity.sq8_minmax(emb, dims, vec_col=args.vec_col)
    codes = similarity.sq8_encode(
        emb, mins, maxs, id_col=args.id_col, vec_col=args.vec_col
    )
    codes.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    with open(_os.path.join(args.output, "_sq8_params.json"), "w") as fh:
        _json.dump({"dims": dims, "mins": mins, "maxs": maxs}, fh)
    print(
        _json.dumps(
            {
                "n_vecs": n_out,
                "dims": dims,
                "bytes_per_vec": dims,
                "output": args.output,
            }
        )
    )
    return 0


def cmd_tokenizer(args) -> int:
    """BPE tokenizer training over a documents parquet: learn
    ``--merges`` merges, optionally write the merge table to
    ``--output`` (parquet), and print one JSON line with the merges
    and the corpus token budget before/after (whitespace words vs
    BPE symbols under the learned vocabulary)."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats

    spark = _spark("lg-tokenizer")
    docs = spark.read.parquet(args.input)
    merges_df = textstats.bpe_train(
        docs, n_merges=args.merges, text_col=args.text_col,
        min_count=args.min_count,
    )
    merges_rows = merges_df.orderBy("rank").collect()
    if args.output:
        # versioned artifact (parquet + _bpe_params.json sidecar) so a
        # later session can load and apply without retraining
        textstats.save_bpe_merges(merges_df, args.output)
    merges = [(r["left"], r["right"]) for r in merges_rows]
    totals = (
        textstats.bpe_apply(docs, merges, text_col=args.text_col)
        .agg(
            F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("b")
        )
        .first()
    )
    print(
        _json.dumps(
            {
                "n_merges": len(merges_rows),
                "merges": [
                    [r["left"], r["right"], r["n_occurrences"]]
                    for r in merges_rows
                ],
                "corpus_whitespace_tokens": int(totals["w"] or 0),
                "corpus_bpe_tokens": int(totals["b"] or 0),
                "output": args.output,
            }
        )
    )
    return 0


def cmd_sample(args) -> int:
    """Per-group document selection over a documents parquet: ``quota``
    keeps the k best rows of each group by weight (exact top-k),
    ``weighted`` draws k per group with probability proportional to
    weight (Efraimidis–Spirakis, without replacement, deterministic by
    seed). Default weight is the composite quality score computed on the
    fly (+0.05 floor in weighted mode so zero-quality rows stay
    drawable). Writes the kept rows, prints one JSON accounting line."""
    import json as _json

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators import textstats
    from lovdata_pipeline_spark.operators.sampling import (
        top_k_per_group,
        weighted_sample_per_group,
    )

    spark = _spark("lg-sample")
    docs = spark.read.parquet(args.input)
    if args.weight_col:
        scored, weight_col = docs, args.weight_col
    else:
        q = textstats.quality_scores(
            docs, text_col=args.text_col, id_col=args.id_col,
            keep_cols=(args.group_col,),
        ).select(args.id_col, args.group_col, "quality")
        floor = F.lit(0.05) if args.mode == "weighted" else F.lit(0.0)
        scored = q.withColumn("weight", F.col("quality") + floor)
        weight_col = "weight"
    if args.mode == "quota":
        # --quotas 'web=100,books=50' overrides the global --k with a
        # per-group cap (groups not listed are excluded — quota 0)
        k = args.k
        if args.quotas:
            k = {}
            for part in args.quotas.split(","):
                name, _, val = part.partition("=")
                k[name.strip()] = int(val)
        kept = top_k_per_group(
            scored, k, args.group_col, weight_col, args.id_col
        )
    else:
        kept = weighted_sample_per_group(
            scored, args.k, args.group_col, weight_col, args.id_col, seed=args.seed
        )
    # selection carries only (id, group, weight[, score]); re-attach the
    # full rows by id so the output is directly trainable-on. The
    # selection's rk REPLACES any rk column the input parquet carried
    # (r5 ADVICE: joining without the drop would emit two rk columns).
    out = kept.select(args.id_col, "rk").join(docs.drop("rk"), args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    per_group = {
        r[0]: r[1]
        for r in spark.read.parquet(args.output)
        .groupBy(args.group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        _json.dumps(
            {
                "mode": args.mode,
                "k": args.k,
                "n_kept": sum(per_group.values()),
                "per_group": dict(sorted(per_group.items())),
                "output_path": args.output,
            }
        )
    )
    return 0


def cmd_mine(args) -> int:
    """Margin-based bitext mining between two language slices of an
    embeddings parquet (vector ids joined to a documents parquet for
    the language column). Writes the mined (src_id, tgt_id, score,
    margin) pairs as parquet and prints one JSON summary line."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.similarity import bitext_margin_mine

    spark = _spark("lg-mine")
    emb = spark.read.parquet(args.embeddings)
    docs = spark.read.parquet(args.documents)
    langed = emb.join(
        docs.select(
            F.col(args.doc_id_col).alias(args.vec_id_col), args.lang_col
        ),
        args.vec_id_col,
    )
    src = langed.filter(F.col(args.lang_col) == args.src_lang).select(
        F.col(args.vec_id_col).alias("src_id"), args.vec_col
    )
    tgt = langed.filter(F.col(args.lang_col) == args.tgt_lang).select(
        F.col(args.vec_id_col).alias("tgt_id"), args.vec_col
    )
    pairs = bitext_margin_mine(
        src,
        tgt,
        k=args.k,
        threshold=args.threshold,
        vec_col=args.vec_col,
        buckets=args.buckets,
    )
    pairs.write.mode("overwrite").parquet(args.output)
    # bitext_margin_mine returns its result eagerly cached (so it could
    # release the pair-score frame internally); this command is done
    # with it after the write — release, so repeated `lg mine` calls in
    # a long-lived session leave no pinned frames (r10 VERDICT Next #5)
    pairs.unpersist()
    n = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "mined_pairs": n,
                "src_lang": args.src_lang,
                "tgt_lang": args.tgt_lang,
                "k": args.k,
                "threshold": args.threshold,
                "output_path": args.output,
            }
        )
    )
    return 0


def cmd_funnel(args) -> int:
    """Sequential conversion funnel over an events parquet: per-stage
    user counts + conversion rates with strict-after gating. Prints the
    one-row summary as a JSON line."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.queries import events_funnel_counts

    spark = _spark("lg-funnel")
    import os as _os

    sf_dir = _os.path.dirname(args.input.rstrip("/")) or "."
    base = _os.path.basename(args.input.rstrip("/"))
    if base != "events.parquet":
        # the query loads <dir>/events.parquet; point it at the file's
        # parent via a temp symlink-free rename contract instead of
        # silently reading the wrong table
        print("error: --input must be a path ending in events.parquet")
        return 2
    [row] = events_funnel_counts(spark, sf_dir).collect()
    print(json.dumps(row.asDict()))
    return 0


def cmd_sketch(args) -> int:
    """Corpus sketches over a documents parquet. ``--mode cms`` builds
    a count-min sketch (optionally persisted with ``--output``; its
    parameters land in a ``_cms_params.json`` sidecar like the SQ8/IVF
    artifacts) and prints estimates for ``--query`` tokens as JSON
    lines; ``--mode hll`` prints the per-group HyperLogLog
    distinct-token estimates, optionally persisting the registers with
    ``--output`` (+ ``_hll_params.json``) and merging persisted stores
    with ``--merge-stores`` (register-wise MAX — no corpus re-read);
    ``--mode bloom`` builds the membership filter and answers
    ``--query`` token probes. All run one explode scan with
    parameter-bounded aggregate state — usable at any corpus size."""
    import os as _os

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
        hll_estimate,
        hll_registers,
        hll_registers_load,
        hll_registers_merge,
        hll_registers_write,
    )

    from lovdata_pipeline_spark.operators.sketches import (
        CMS_STORE_VERSION,
        cms_sketch_load,
    )

    spark = _spark("lg-sketch")
    if args.merge_stores:
        # cross-session merge: load persisted register stores, combine
        # register-wise (hll: MAX, hdr: count-SUM), estimate — no
        # corpus data is ever re-read
        if args.mode not in ("hll", "hdr"):
            print("error: --merge-stores is an hll/hdr operation (--mode hll|hdr)")
            return 2
        paths = [s for s in args.merge_stores.split(",") if s]
        if not paths:
            print("error: --merge-stores needs at least one store path")
            return 2
        if args.mode == "hdr":
            from lovdata_pipeline_spark.operators.sketches import (
                hdr_merge,
                hdr_quantiles,
                hdr_registers_load,
            )

            try:
                percents = tuple(int(p) for p in args.percents.split(",") if p)
            except ValueError:
                print("error: --percents must be integers in [1, 100]")
                return 2
            if not percents or any(not (1 <= p <= 100) for p in percents):
                print("error: --percents must be integers in [1, 100]")
                return 2
            loaded = [hdr_registers_load(spark, pth) for pth in paths]
            sb0, g0 = loaded[0][1], loaded[0][2]
            if any((sbi, gi) != (sb0, g0) for _, sbi, gi in loaded[1:]):
                print(
                    "error: stores built under different sub_bits/group_col "
                    "are not mergeable"
                )
                return 2
            merged = hdr_merge([t[0] for t in loaded], group_col=g0)
            out = hdr_quantiles(merged, g0, percents=percents, sub_bits=sb0)
            for row in out.orderBy(g0).collect():
                print(json.dumps(row.asDict()))
            return 0
        loaded = [hll_registers_load(spark, pth) for pth in paths]
        p0, g0 = loaded[0][1], loaded[0][2]
        if any((pi, gi) != (p0, g0) for _, pi, gi in loaded[1:]):
            print("error: stores built under different p/group_col are not mergeable")
            return 2
        merged = hll_registers_merge([t[0] for t in loaded], group_col=g0)
        for row in hll_estimate(merged, group_col=g0, p=p0).orderBy(g0).collect():
            print(json.dumps(row.asDict()))
        return 0
    if args.sketch:
        # query a PERSISTED sketch — no corpus scan at all; w/d come
        # from the version-gated sidecar so probes can't mis-hash
        if args.mode == "hll":
            print("error: --sketch stores are cms; --mode hll rebuilds from --input")
            return 2
        if not args.query:
            print("error: --sketch needs --query tokens")
            return 2
        sk, w, d = cms_sketch_load(spark, args.sketch)
    else:
        if not args.input:
            print("error: need --input (or --sketch with --query)")
            return 2
        docs = spark.read.parquet(args.input)
        if args.mode == "hdr":
            # quantile sketch over a numeric column: registers built
            # once, estimates printed per group as JSON lines
            from lovdata_pipeline_spark.operators.sketches import (
                hdr_buckets,
                hdr_quantiles,
            )

            if not args.value_col:
                print("error: --mode hdr needs --value-col")
                return 2
            try:
                percents = tuple(int(p) for p in args.percents.split(",") if p)
            except ValueError:
                print("error: --percents must be integers in [1, 100]")
                return 2
            if not percents or any(not (1 <= p <= 100) for p in percents):
                print("error: --percents must be integers in [1, 100]")
                return 2
            regs = hdr_buckets(docs, args.value_col, args.group_col)
            if args.output:
                from lovdata_pipeline_spark.operators.sketches import (
                    hdr_registers_write,
                )

                hdr_registers_write(regs, args.output, group_col=args.group_col)
                print(json.dumps({"store": args.output, "status": "written"}))
            out = hdr_quantiles(regs, args.group_col, percents=percents)
            for row in out.orderBy(args.group_col).collect():
                print(json.dumps(row.asDict()))
            return 0
        if args.mode == "hll":
            regs = hll_registers(docs, group_col=args.group_col, p=args.p)
            if args.output:
                hll_registers_write(
                    regs, args.output, p=args.p, group_col=args.group_col
                )
                print(json.dumps({"store": args.output, "status": "written"}))
            if args.overlap:
                # pairwise set algebra: union registers + inclusion-
                # exclusion intersection estimates, one JSON line per
                # unordered group pair (sketches.hll_pair_overlap)
                from lovdata_pipeline_spark.operators.sketches import (
                    hll_pair_overlap,
                )

                ga, gb = f"{args.group_col}_a", f"{args.group_col}_b"
                out = hll_pair_overlap(regs, group_col=args.group_col, p=args.p)
                for row in out.orderBy(ga, gb).collect():
                    print(json.dumps(row.asDict()))
                return 0
            out = hll_estimate(regs, group_col=args.group_col, p=args.p)
            for row in out.orderBy(args.group_col).collect():
                print(json.dumps(row.asDict()))
            return 0
        if args.mode == "bloom":
            if not args.query:
                print("error: --mode bloom needs --query tokens")
                return 2
            from lovdata_pipeline_spark.operators.sketches import (
                bloom_build,
                bloom_probe,
            )

            filt = bloom_build(docs, m_bits=args.m_bits, k=args.k_hashes)
            terms = [t for t in args.query.split(",") if t]
            qdf = spark.createDataFrame([(t,) for t in terms], "token string")
            hits = {
                r.token: bool(r.in_filter)
                for r in bloom_probe(
                    filt, qdf, m_bits=args.m_bits, k=args.k_hashes
                ).collect()
            }
            for t in terms:
                print(json.dumps({"token": t, "in_filter": hits.get(t, False)}))
            return 0
        w, d = args.width, args.depth
        sk = cms_sketch(docs, w=w, d=d)
        if args.output:
            sk.write.mode("overwrite").parquet(args.output)
            with open(_os.path.join(args.output, "_cms_params.json"), "w") as fh:
                json.dump({"version": CMS_STORE_VERSION, "w": w, "d": d}, fh)
    if args.query:
        terms = [t for t in args.query.split(",") if t]
        qdf = spark.createDataFrame([(t,) for t in terms], "token string")
        est = {
            r.token: r.n_est
            for r in cms_estimate(sk, qdf, w=w, d=d).collect()
        }
        for t in terms:
            print(json.dumps({"token": t, "n_est": est.get(t, 0)}))
    elif not args.output:
        print("error: --mode cms needs --query tokens and/or --output")
        return 2
    return 0


def cmd_layout(args) -> int:
    """Z-order (Morton) layout CLI: ``--output`` clusters ``--input``
    into a zbucket-partitioned index (one file per bucket + stats
    sidecar — layout.zorder_write_index); ``--append`` quantizes
    ``--input`` under the index's PINNED sidecar ranges and rewrites
    only the dirty buckets (layout.zorder_append; out-of-range values
    clamp, or fail loud with ``--strict-range``); ``--index`` +
    ``--box`` box-scans a persisted index with stats-rectangle pruning
    and prints a JSON summary (rows matched, buckets scanned/total)."""
    import os as _os

    from lovdata_pipeline_spark.operators.layout import (
        _SIDECAR,
        zorder_append,
        zorder_box_scan,
        zorder_write_index,
    )

    spark = _spark("lg-layout")
    if args.append:
        if not args.input:
            print("error: --append needs --input")
            return 2
        res = zorder_append(
            spark,
            spark.read.parquet(args.input),
            args.append,
            on_out_of_range="error" if args.strict_range else "clamp",
        )
        print(json.dumps({"index": args.append, "status": "appended", **res}))
        if not args.box:
            return 0
        args.index = args.index or args.append
    if args.output:
        if not (args.input and args.x_col and args.y_col):
            print("error: --output needs --input, --x-col, --y-col")
            return 2
        zorder_write_index(
            spark.read.parquet(args.input),
            args.output,
            args.x_col,
            args.y_col,
            n_buckets=args.n_buckets,
        )
        print(json.dumps({"index": args.output, "status": "written"}))
        if not args.box:
            return 0
    idx = args.index or args.output
    if not idx:
        print("error: need --output (build) and/or --index (scan)")
        return 2
    if not args.box:
        print("error: --index needs --box qx_lo,qx_hi,qy_lo,qy_hi")
        return 2
    try:
        qx_lo, qx_hi, qy_lo, qy_hi = (int(v) for v in args.box.split(","))
    except ValueError:
        print("error: --box must be four comma-separated integers")
        return 2
    scan = zorder_box_scan(spark, idx, qx_lo, qx_hi, qy_lo, qy_hi)
    with open(_os.path.join(idx, _SIDECAR)) as fh:
        sc = json.load(fh)
    cands = [
        b
        for b, s in sc["buckets"].items()
        if s["minqx"] <= qx_hi and s["maxqx"] >= qx_lo
        and s["minqy"] <= qy_hi and s["maxqy"] >= qy_lo
    ]
    print(
        json.dumps(
            {
                "rows": scan.count(),
                "buckets_scanned": len(cands),
                "buckets_total": len(sc["buckets"]),
            }
        )
    )
    return 0


def cmd_phrase(args) -> int:
    """Exact phrase search: documents containing the token sequence,
    with occurrence counts, as JSON lines (positional-index join — see
    search.phrase_match_counts). ``--write-index`` persists the
    bucket-partitioned postings index from ``--input``; ``--index``
    queries a persisted index (partition-pruned bucket reads) instead
    of scanning documents."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.search import (
        phrase_match_counts,
        postings_phrase_counts,
        postings_write,
    )

    spark = _spark("lg-phrase")
    if args.write_index:
        if not args.input:
            print("error: --write-index needs --input")
            return 2
        postings_write(
            spark.read.parquet(args.input), args.write_index, id_col=args.id_col
        )
        print(json.dumps({"index": args.write_index, "status": "written"}))
        if not args.phrase:
            return 0
    if not args.phrase:
        print("error: --phrase required unless only --write-index")
        return 2
    if args.index or args.write_index:
        out = postings_phrase_counts(
            spark, args.index or args.write_index, args.phrase
        )
        id_col = out.columns[0]
    else:
        if not args.input:
            print("error: need --input or --index")
            return 2
        docs = spark.read.parquet(args.input)
        out = phrase_match_counts(docs, args.phrase, id_col=args.id_col)
        id_col = args.id_col
    out = out.orderBy(F.col("n_matches").desc(), id_col).limit(args.k)
    for row in out.collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_migrate(args) -> int:
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
    from lovdata_pipeline_spark.sources.jsonl import migrate, read_jsonl, write_jsonl

    spark = _spark("lg-migrate")
    if args.source_format == "parquet":
        source = ChunkStore(spark, args.source).read().drop("bucket")
    else:
        source = read_jsonl(spark, args.source).drop("_corrupt_record").filter(
            "chunk_id IS NOT NULL"
        )
    if args.target_format == "jsonl":
        n = migrate(source, lambda df: write_jsonl(df, args.target))
    else:
        n = migrate(
            source, lambda df: ChunkStore(spark, args.target).upsert_chunks(df)
        )
    print(json.dumps({"migrated": n}))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="lg", description=__doc__)
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("process", help="run one incremental pipeline pass")
    p.add_argument("--corpus", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--force", action="store_true")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--datasets", default="*")
    p.add_argument("--target-tokens", type=int, default=2000)
    p.add_argument("--max-tokens", type=int, default=6800)
    p.add_argument("--min-tokens", type=int, default=300)
    p.add_argument("--overlap-ratio", type=float, default=0.15)
    p.add_argument("--embedding-dims", type=int, default=64)
    p.set_defaults(func=cmd_process)

    s = sub.add_parser("status", help="print processed/failed counts")
    s.add_argument("--state", required=True)
    s.set_defaults(func=cmd_status)

    v = sub.add_parser("validate", help="check state/store consistency, or data expectations over a parquet (--table)")
    v.add_argument("--store", help="chunk store path (consistency mode)")
    v.add_argument("--state", help="state store path (consistency mode)")
    v.add_argument("--table", help="expectations mode: parquet path to audit")
    v.add_argument("--cols", help="expectations mode: comma-separated columns (default: all)")
    v.add_argument("--pk", help="expectations mode: column that must satisfy the PK contract (exit 1 otherwise)")
    v.add_argument("--approx", action="store_true",
                   help="expectations mode: approx_count_distinct per column (HLL, no Expand) for wide tables; --pk is still checked exactly")
    v.set_defaults(func=cmd_validate)

    se = sub.add_parser("search", help="search the chunk store (vector/keyword/hybrid)")
    se.add_argument("--store", required=True)
    se.add_argument("--query", required=True)
    se.add_argument("-k", type=int, default=5)
    se.add_argument(
        "--mode",
        choices=["vector", "keyword", "hybrid"],
        default="vector",
        help="vector = cosine over embeddings (default); keyword = BM25 "
        "over content; hybrid = reciprocal-rank fusion of both",
    )
    se.set_defaults(func=cmd_search)

    c = sub.add_parser("curate", help="curate a documents parquet for training")
    c.add_argument("--input", required=True, help="documents parquet path")
    c.add_argument("--output", required=True, help="curated output parquet path")
    c.add_argument("--benchmark", default=None, help="eval-set parquet to decontaminate against")
    c.add_argument("--pii", choices=["drop", "redact", "keep"], default="drop")
    c.add_argument("--no-dedup", action="store_true")
    c.add_argument("--ngram", type=int, default=3)
    c.add_argument("--mix", default=None, help="stratified rates, e.g. 'src0=1.0,src1=0.4'")
    c.add_argument("--temperature", type=float, default=None, help="temperature-mix alpha (instead of --mix)")
    c.add_argument("--seq-len", type=int, default=512, help="0 skips sequence assignment")
    c.add_argument("--seed", default="curate-v1")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--strata-col", default="source")
    c.set_defaults(func=cmd_curate)

    sp = sub.add_parser("split", help="deterministic train/val/test split")
    sp.add_argument("--input", required=True, help="documents parquet path")
    sp.add_argument("--output", required=True, help="output parquet path (partitioned by split)")
    sp.add_argument("--weights", default="train=0.8,val=0.1,test=0.1")
    sp.add_argument("--seed", default="split-v1")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument(
        "--stratified",
        metavar="STRATA_COL",
        help="exact-count per-stratum split (weights must be whole percents)",
    )
    sp.set_defaults(func=cmd_split)

    r = sub.add_parser("report", help="per-source curation report")
    r.add_argument("--input", required=True, help="documents parquet path")
    r.add_argument("--benchmark", default=None, help="eval-set parquet for contamination counts")
    r.add_argument("--ngram", type=int, default=3)
    r.add_argument("--id-col", default="doc_id")
    r.add_argument("--text-col", default="text")
    r.add_argument("--strata-col", default="source")
    r.set_defaults(func=cmd_report)

    pk = sub.add_parser("pack", help="materialize fixed-length training sequences")
    pk.add_argument("--input", required=True, help="documents parquet path")
    pk.add_argument("--output", required=True, help="packed sequences parquet path")
    pk.add_argument("--manifest", default=None, help="optional manifest parquet path")
    pk.add_argument("--seq-len", type=int, default=512)
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--text-col", default="text")
    pk.set_defaults(func=cmd_pack)

    an = sub.add_parser("analyze", help="corpus diagnostics: keywords, BPE pairs, languages, length histogram")
    an.add_argument("--input", required=True, help="documents parquet path")
    an.add_argument("--output", default=None, help="optional directory for the diagnostic tables")
    an.add_argument("--keywords", type=int, default=5, help="TF-IDF keywords per group")
    an.add_argument("--pairs", type=int, default=50, help="top BPE pairs to keep")
    an.add_argument("--id-col", default="doc_id")
    an.add_argument("--text-col", default="text")
    an.add_argument("--group-col", default="source")
    an.add_argument("--compression", action="store_true",
                    help="also report per-group zlib compression-ratio stats (mean ratio, docs outside the keep band)")
    an.add_argument("--bpe", default=None,
                    help="path to a saved merge-table artifact (lg tokenizer --output); re-tokenizes the corpus under it and reports the BPE token budget")
    an.set_defaults(func=cmd_analyze)

    pl = sub.add_parser("plan", help="per-group mixture plan: tokens, shares, uniform-mix epochs")
    pl.add_argument("--input", required=True, help="documents parquet path")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--group-col", default="source")
    pl.set_defaults(func=cmd_plan)

    tk = sub.add_parser("tokenizer", help="train a BPE merge table over a documents parquet")
    tk.add_argument("--input", required=True, help="documents parquet path")
    tk.add_argument("--output", help="optional merge-table parquet path")
    tk.add_argument("--merges", type=int, default=16)
    tk.add_argument("--min-count", type=int, default=2)
    tk.add_argument("--text-col", default="text")
    tk.set_defaults(func=cmd_tokenizer)

    rd = sub.add_parser("reduce", help="PCA-project an embeddings parquet (fit + transform)")
    rd.add_argument("--input", required=True, help="embeddings parquet path")
    rd.add_argument("--output", required=True, help="projected parquet path")
    rd.add_argument("--k", type=int, default=8, help="components to keep")
    rd.add_argument("--vec-col", default="embedding")
    rd.add_argument("--out-col", default="pca")
    rd.set_defaults(func=cmd_reduce)

    cf = sub.add_parser("classifier", help="train (--label-col) or apply (--model) a hashed-BoW LR quality classifier")
    cf.add_argument("--input", required=True, help="documents parquet path")
    cf.add_argument("--output", required=True, help="weight-table dir (train) or scores parquet (apply)")
    cf.add_argument("--label-col", default=None, help="train mode: 0/1 label column")
    cf.add_argument("--model", default=None, help="apply mode: saved weight-table dir")
    cf.add_argument("--buckets", type=int, default=32)
    cf.add_argument("--iterations", type=int, default=3)
    cf.add_argument("--lr", type=float, default=0.125)
    cf.add_argument("--id-col", default="doc_id")
    cf.add_argument("--text-col", default="text")
    cf.set_defaults(func=cmd_classifier)

    rk = sub.add_parser("rank", help="k-NN graph + PageRank centrality over embeddings (graph family CLI)")
    rk.add_argument("--input", help="embeddings parquet path (graph build source)")
    rk.add_argument("--edges", help="rank a previously saved edge parquet instead of building")
    rk.add_argument("--edges-output", help="persist the built edge list to this parquet path")
    rk.add_argument("-k", type=int, default=3, help="out-degree of the k-NN graph")
    rk.add_argument("--candidates", choices=["blocked", "ivf"], default="blocked", help="candidate stage: exact block-pair BLAS or sublinear IVF probing")
    rk.add_argument("--cells", type=int, default=16, help="ivf: number of cells")
    rk.add_argument("--probe", type=int, default=4, help="ivf: cells probed per source")
    rk.add_argument(
        "--index-path",
        default=None,
        help="ivf: read a knn_write_ivf_index layout (partition-pruned "
        "probes; --input may be a subset of the indexed corpus)",
    )
    rk.add_argument("--damping-pct", type=int, default=85)
    rk.add_argument("--iterations", type=int, default=3)
    rk.add_argument("--top", type=int, default=10, help="central nodes printed")
    rk.add_argument("--id-col", default="vec_id")
    rk.add_argument("--vec-col", default="embedding")
    rk.set_defaults(func=cmd_rank)

    ix = sub.add_parser("index", help="build a persisted IVF index (parquet partitioned by cell + centroid params)")
    ix.add_argument("--input", required=True, help="embeddings parquet path")
    ix.add_argument("--output", required=True, help="index directory (cell-partitioned parquet + _ivf_params.json)")
    ix.add_argument("--cells", type=int, default=8)
    ix.add_argument("--refine", type=int, default=0, help="exact-integer Lloyd iterations (0 = portable seeds)")
    ix.add_argument(
        "--graph",
        action="store_true",
        help="build the k-NN GRAPH geometry (unit-sphere cells) for "
        "`lg rank --index-path` instead of the raw-space search index",
    )
    ix.add_argument("--id-col", default="vec_id")
    ix.add_argument("--vec-col", default="embedding")
    ix.set_defaults(func=cmd_index)

    qz = sub.add_parser("quantize", help="SQ8-quantize an embeddings parquet (4x compression codes + fit params)")
    qz.add_argument("--input", required=True, help="embeddings parquet path")
    qz.add_argument("--output", required=True, help="codes parquet path (fit params land in _sq8_params.json inside)")
    qz.add_argument("--id-col", default="vec_id")
    qz.add_argument("--vec-col", default="embedding")
    qz.set_defaults(func=cmd_quantize)

    cl = sub.add_parser("clean", help="strip boilerplate lines + dedup paragraphs across docs")
    cl.add_argument("--input", required=True, help="documents parquet path")
    cl.add_argument("--output", required=True, help="cleaned corpus parquet path")
    cl.add_argument("--no-boilerplate", action="store_true", help="skip boilerplate line stripping")
    cl.add_argument("--no-paragraph-dedup", action="store_true", help="skip cross-doc paragraph dedup")
    cl.add_argument("--boilerplate-min-frac", type=float, default=0.5,
                    help="line is boilerplate if present in >= this fraction of the group's docs")
    cl.add_argument("--paragraph-sep", default="\n\n", help=r"literal paragraph separator (\n, \r, \t escapes decoded; matched literally, not as a regex)")
    cl.add_argument("--needles", default=None,
                    help="benchmark/needle parquet: excise every word-aligned occurrence of each needle text (span-level decontamination surgery; surgered output text is whitespace-normalized — newlines become single spaces)")
    cl.add_argument("--needle-text-col", default="text", help="text column in the needles parquet")
    cl.add_argument("--anchor-n", type=int, default=5,
                    help="anchor-gram width for surgery candidate pruning (needles shorter than this take no part)")
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--group-col", default="source")
    cl.set_defaults(func=cmd_clean)

    sm = sub.add_parser("sample", help="per-group selection: quota top-k or weighted draw")
    sm.add_argument("--input", required=True, help="documents parquet path")
    sm.add_argument("--output", required=True, help="kept-rows parquet path")
    sm.add_argument("--mode", choices=["quota", "weighted"], default="quota")
    sm.add_argument("--k", type=int, default=100, help="rows kept per group")
    sm.add_argument("--quotas", default=None,
                    help="quota mode: per-group caps 'web=100,books=50' (overrides --k; unlisted groups excluded)")
    sm.add_argument("--weight-col", default=None, help="existing weight column (default: computed quality)")
    sm.add_argument("--seed", default="sample-v1", help="weighted-mode draw seed")
    sm.add_argument("--id-col", default="doc_id")
    sm.add_argument("--text-col", default="text")
    sm.add_argument("--group-col", default="source")
    sm.set_defaults(func=cmd_sample)

    mn = sub.add_parser("mine", help="margin-based bitext mining between two language slices")
    mn.add_argument("--embeddings", required=True, help="embeddings parquet path")
    mn.add_argument("--documents", required=True, help="documents parquet path (language column)")
    mn.add_argument("--output", required=True, help="mined-pairs parquet path")
    mn.add_argument("--src-lang", required=True)
    mn.add_argument("--tgt-lang", required=True)
    mn.add_argument("--k", type=int, default=4)
    mn.add_argument("--threshold", type=float, default=1.0)
    mn.add_argument(
        "--buckets",
        type=int,
        default=None,
        help="LSH pre-bucketing (2**n buckets): corpus-scale approximate "
        "path — exact when omitted",
    )
    mn.add_argument("--vec-col", default="embedding")
    mn.add_argument("--vec-id-col", default="vec_id")
    mn.add_argument("--doc-id-col", default="doc_id")
    mn.add_argument("--lang-col", default="lang")
    mn.set_defaults(func=cmd_mine)

    fu = sub.add_parser("funnel", help="view->click->purchase conversion funnel summary")
    fu.add_argument("--input", required=True, help="path to an events.parquet")
    fu.set_defaults(func=cmd_funnel)

    sk = sub.add_parser("sketch", help="corpus sketches: count-min frequency estimates / HLL distinct counts")
    sk.add_argument("--input", help="documents parquet")
    sk.add_argument("--mode", choices=["cms", "hll", "bloom", "hdr"], default="cms")
    sk.add_argument("--sketch", help="query a persisted cms sketch (skip the corpus scan)")
    sk.add_argument("--query", help="cms: comma-separated tokens to estimate")
    sk.add_argument("--output", help="persist the sketch: cms cells (+ _cms_params.json), hll registers (+ _hll_params.json), or hdr registers (+ _hdr_params.json)")
    sk.add_argument("--merge-stores", help="hll/hdr: comma-separated persisted register stores to load, merge (hll MAX / hdr count-sum), and estimate (no corpus scan)")
    sk.add_argument("--width", type=int, default=1024, help="cms buckets per row")
    sk.add_argument("--depth", type=int, default=4, help="cms hash rows")
    sk.add_argument("--group-col", default="source", help="hll: group column")
    sk.add_argument("--p", type=int, default=5, help="hll: 2^p registers per group")
    sk.add_argument("--m-bits", type=int, default=4096, help="bloom: filter bits")
    sk.add_argument("--k-hashes", type=int, default=3, help="bloom: hashes per token")
    sk.add_argument(
        "--overlap",
        action="store_true",
        help="hll: print the pairwise vocabulary-overlap matrix (union + inclusion-exclusion intersection estimates) instead of per-group counts",
    )
    sk.add_argument("--value-col", help="hdr: non-negative long value column")
    sk.add_argument(
        "--percents", default="50,90,99", help="hdr: comma-separated integer percentiles"
    )
    sk.set_defaults(func=cmd_sketch)

    ly = sub.add_parser("layout", help="z-order (Morton) clustering: write a stats-pruned index / box-scan it")
    ly.add_argument("--input", help="parquet to cluster (index build source)")
    ly.add_argument("--x-col", help="first layout dimension (long-castable)")
    ly.add_argument("--y-col", help="second layout dimension (long-castable)")
    ly.add_argument("--output", help="write the zbucket-partitioned index here")
    ly.add_argument("--index", help="box-scan a persisted index instead of building")
    ly.add_argument("--box", help="qx_lo,qx_hi,qy_lo,qy_hi in quantized [0,65536) space")
    ly.add_argument("--n-buckets", type=int, default=64, help="curve ranges (power of two)")
    ly.add_argument(
        "--append",
        help="append --input into this existing index under its pinned sidecar ranges",
    )
    ly.add_argument(
        "--strict-range",
        action="store_true",
        help="append: fail loud on out-of-pinned-range values instead of clamping",
    )
    ly.set_defaults(func=cmd_layout)

    ph = sub.add_parser("phrase", help="exact phrase search (positional-index join)")
    ph.add_argument("--input", help="documents parquet (in-memory form / index build source)")
    ph.add_argument("--phrase", help="token sequence to search")
    ph.add_argument("--index", help="query a persisted postings index instead of --input")
    ph.add_argument("--write-index", help="persist the postings index to this path first")
    ph.add_argument("--id-col", default="doc_id")
    ph.add_argument("-k", type=int, default=20, help="max documents printed")
    ph.set_defaults(func=cmd_phrase)

    m = sub.add_parser("migrate", help="copy chunks between storage formats")
    m.add_argument("--source-format", choices=["parquet", "jsonl"], required=True)
    m.add_argument("--source", required=True)
    m.add_argument("--target-format", choices=["parquet", "jsonl"], required=True)
    m.add_argument("--target", required=True)
    m.set_defaults(func=cmd_migrate)

    args = parser.parse_args(argv)
    if getattr(args, "source_format", None) == getattr(args, "target_format", "x"):
        parser.error("source and target formats must differ")
    if getattr(args, "mix", None) and getattr(args, "temperature", None) is not None:
        parser.error("--mix and --temperature are mutually exclusive")
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
