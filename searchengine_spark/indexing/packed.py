"""Packed (M2) index: SPIMI re-expressed as Spark stages, compressed postings.

Reference pipeline being re-expressed (NOT ported): SPIMI block build + k-way
merge (/root/reference/src/models/spimi.py:76-209) producing a sorted
term->postings file with idf sidecar and per-doc dl_norm footer
(src/models/spimi.py:211-271). Here each piece becomes a Spark stage whose
shuffle IS the merge:

  stage docs   : input -> dense docIDs (two-pass, docids.py) + tokens + dl,
                 ONE write job; N and avgdl ride the write as observed
                 metrics (no separate aggregation pass). Tokenization
                 happens exactly once — the index stage explodes the STORED
                 token arrays instead of re-tokenizing text.
  stage index  : explode stored tokens -> one range shuffle on (term,
                 doc_id) -> vectorized varbyte encode per partition.
                 chunk = doc_id // chunk_docs: a term's postings are split
                 into doc-range chunks, so no posting list is ever
                 materialized whole — the hot-term (stop-word-like) skew that
                 would blow a collect_list is bounded by chunk_docs. Chunks
                 double as WAND blocks: (first_doc, last_doc, max_tfsat) per
                 chunk is exact block-max metadata (Ding & Suel 2011).
                 dlq (= round(dl_norm*1000), lossless 3-dp quantization) is
                 derived here from dl + the observed avgdl scalar.
  stage stats  : term_stats (df, idf=round(ln(N/df),3)) from chunk counts
  (docmap)     : NOT a stage — doc_id -> (conv_id, turn_idx) resolution is a
                 column-pruned view over the docs stage parquet (columnar
                 format means reading just those columns; a separate docmap
                 sink would rewrite the same bytes and add a whole job)

Each stage writes Parquet + Spark's _SUCCESS marker; ``resume=True`` skips
completed stages (checkpoint-resumable, north_rule). ``lineage`` records
per-file row counts and doc ranges; ``manifest.json`` (written LAST =
commit marker) records scalars, config, per-stage wall times and
throughput. The build submits only jobs that move data:

- manifest totals are observed on the sidecar writes themselves (dl_norm
  bounds on ``lineage``, n_chunks/n_postings/postings_bytes on
  ``lineage_index``, n_terms on ``term_stats``) and recorded per stage in
  ``build_state.json`` — nothing is re-read for scalar bookkeeping;
- every re-read pins the writer's schema (``INDEX_SCHEMA``,
  ``TERM_STATS_SCHEMA``, and the docs frame's DDL, kept in the manifest as
  ``docs_schema``), so no read pays a footer-inference job;
- the independent sidecars run on a 2-thread pool beside the main stages
  (``lineage`` beside ``index``, ``lineage_index`` beside ``term_stats``),
  inheriting the caller's job group.

All sidecar metadata IO (markers, state, manifest) goes through the JVM
Hadoop FileSystem (fsio.py), so ``path`` may be any Hadoop-FS URI
(``file://``, ``hdfs://``, ``s3a://``) — the same code ships to a real
cluster via spark-submit --py-files (jobs/build_index.py).
"""

from __future__ import annotations

import json
import time
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tokenizer import TokenizerConfig, tokens_column
from . import fsio
from .build import Bm25Params
from .codec import encode_postings, tf_saturation
from .docids import DOC_ID, unpersist_doc_ids, with_doc_ids

DEFAULT_CHUNK_DOCS = 1 << 16  # postings chunk = 65536-doc range

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("df_chunk", T.LongType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("max_tfsat", T.DoubleType(), False),
        T.StructField("postings", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),  # positional mode only
    ]
)

#: term_stats as every writer commits it (build, append and delete merges)
TERM_STATS_SCHEMA = "term string, df long, idf double"


def _done(spark: SparkSession, path: str) -> bool:
    return fsio.exists(spark, fsio.join(path, "_SUCCESS"))


def _schema_ddl(schema: T.StructType) -> str:
    """DDL of ``schema`` without nullability: file reads make every column
    nullable anyway, so a shard merge and a fresh build record the same
    string for the same columns."""
    return ", ".join(
        "`{}` {}".format(f.name.replace("`", "``"), f.dataType.simpleString())
        for f in schema.fields
    )


def read_docs(spark: SparkSession, paths, ddl: Optional[str]) -> DataFrame:
    """Read docs-stage parquet under its recorded DDL; ``ddl=None`` (an
    index built before ``docs_schema`` was recorded) infers it."""
    reader = spark.read if ddl is None else spark.read.schema(ddl)
    return reader.parquet(*paths)


def _stage_dirs(path: str) -> dict:
    return {
        "docs": fsio.join(path, "docs"),
        "index": fsio.join(path, "index"),
        "term_stats": fsio.join(path, "term_stats"),
        "doc_norms": fsio.join(path, "doc_norms"),
        "lineage": fsio.join(path, "lineage"),
        "lineage_index": fsio.join(path, "lineage_index"),
        "manifest": fsio.join(path, "manifest.json"),
        "state": fsio.join(path, "build_state.json"),
    }


def _encode_group(params: Bm25Params, payload: str = "freq",
                  positional: bool = False):
    """Per-(term, chunk) encoder for applyInPandas — used by the streaming
    append path where batches are small. The bulk build uses the vectorized
    partition encoder below (_encode_partition). ``payload='tfidf'``: the
    dlq column carries wq (stored weight ×1000) and the chunk bound is the
    max stored weight. ``payload='boolean'``: doc gaps only (bound 1.0).
    ``positional=True``: input rows are token OCCURRENCES (doc_id, dlq,
    pos); postings derive from run lengths and the position stream encodes
    per-posting deltas — all mirroring _encode_partition."""
    k, b = float(params.k), float(params.b)

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        from .codec import encode_doc_groups, encode_position_groups

        pos_buf = None
        if positional:
            pdf = pdf.sort_values(["doc_id", "pos"])
            occ_docs = pdf["doc_id"].to_numpy(np.int64)
            n = len(occ_docs)
            newp = np.empty(n, dtype=bool)
            newp[0] = True
            newp[1:] = occ_docs[1:] != occ_docs[:-1]
            pstarts = np.flatnonzero(newp)
            doc_ids = occ_docs[pstarts]
            tfs = np.diff(np.append(pstarts, n))
            dlqs = pdf["dlq"].to_numpy(np.int64)[pstarts]
            pos_buf = encode_position_groups(
                np.zeros(1, np.int64), pstarts, pdf["pos"].to_numpy(np.int64)
            )[0]
        else:
            pdf = pdf.sort_values("doc_id")
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            tfs = pdf["tf"].to_numpy(np.int64)
            dlqs = pdf["dlq"].to_numpy(np.int64)
        dl_norm = dlqs.astype(np.float64) / 1000.0
        if payload == "boolean":
            buf = encode_doc_groups(np.zeros(1, np.int64), doc_ids)[0][0]
            sat = np.ones(1, dtype=np.float64)
        else:
            buf = encode_postings(doc_ids, tfs, dlqs)
            if payload == "tfidf":
                sat = dl_norm  # slot 3 is wq: bound = max stored weight
            else:
                sat = tf_saturation(tfs, dl_norm, k, b)
        return pd.DataFrame(
            {
                "term": [pdf["term"].iloc[0]],
                "chunk": [int(pdf["chunk"].iloc[0])],
                "df_chunk": [len(doc_ids)],
                "first_doc": [int(doc_ids[0])],
                "last_doc": [int(doc_ids[-1])],
                "max_tfsat": [float(sat.max())],
                "postings": [buf],
                "positions": [pos_buf],
            }
        )

    return encode


def _encode_partition(
    params: Bm25Params,
    chunk_docs: int = 0,
    positional: bool = False,
    payload: str = "freq",
):
    """Partition-level encoder: input batches are (term, chunk, doc_id)-
    sorted within the partition; groups may straddle Arrow batch
    boundaries, so the trailing (possibly incomplete) group of each batch
    is carried into the next. ONE vectorized varbyte pass per batch
    (codec.encode_posting_groups) instead of one Python call per (term,
    chunk) group — the difference between O(batch) and O(n_terms) Python
    overhead in the build hot path."""
    k, b = float(params.k), float(params.b)

    def encode(batches):
        import numpy as np

        leftover: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            terms = pdf["term"].to_numpy()
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            # chunk derived from doc_id (monotone) — not shuffled as a column
            chunks = (
                pdf["chunk"].to_numpy(np.int64)
                if "chunk" in pdf.columns
                else doc_ids // chunk_docs
            )
            dlqs = pdf["dlq"].to_numpy(np.int64)
            w = (
                pdf["tf"].to_numpy(np.int64)
                if "tf" in pdf.columns
                else np.ones(n, dtype=np.int64)
            )
            # posting run boundaries: (term, chunk, doc) changes — raw token
            # occurrences compress to (posting, tf=run weight) right here,
            # which is what lets the build skip the pre-agg shuffle entirely
            newp = np.empty(n, dtype=bool)
            newp[0] = True
            newp[1:] = (
                (terms[1:] != terms[:-1])
                | (chunks[1:] != chunks[:-1])
                | (doc_ids[1:] != doc_ids[:-1])
            )
            pstarts = np.flatnonzero(newp)
            tfs = np.add.reduceat(w, pstarts)
            cterms = terms[pstarts]
            cchunks = chunks[pstarts]
            cdocs = doc_ids[pstarts]
            cdlqs = dlqs[pstarts]
            # group boundaries in compressed posting space
            m = len(pstarts)
            newg = np.empty(m, dtype=bool)
            newg[0] = True
            newg[1:] = (cterms[1:] != cterms[:-1]) | (cchunks[1:] != cchunks[:-1])
            starts = np.flatnonzero(newg)
            from .codec import (
                encode_doc_groups,
                encode_posting_groups,
                encode_position_groups,
            )

            if payload == "boolean":
                # presence-only postings: doc gaps, no tf/dlq (the
                # reference's BooleanPostingList — ~3x smaller index)
                buffers, first, last, counts = encode_doc_groups(starts, cdocs)
                pos_bufs = None
                max_sat = np.ones(len(starts), dtype=np.float64)
            else:
                buffers, first, last, counts = encode_posting_groups(
                    starts, cdocs, tfs, cdlqs
                )
                if positional:
                    pos_bufs = encode_position_groups(
                        pstarts[starts], pstarts, pdf["pos"].to_numpy(np.int64)
                    )
                else:
                    pos_bufs = None
                if payload == "tfidf":
                    # chunk bound = max stored weight (a WAND-style upper
                    # bound for TF-IDF scoring; slot 3 holds wq here)
                    max_sat = np.maximum.reduceat(
                        cdlqs.astype(np.float64) / 1000.0, starts
                    )
                else:
                    sat = tf_saturation(tfs, cdlqs.astype(np.float64) / 1000.0, k, b)
                    max_sat = np.maximum.reduceat(sat, starts)
            return pd.DataFrame(
                {
                    "term": cterms[starts],
                    "chunk": cchunks[starts],
                    "df_chunk": counts,
                    "first_doc": first,
                    "last_doc": last,
                    "max_tfsat": max_sat,
                    "postings": buffers,
                    "positions": pos_bufs,
                }
            )

        for pdf in batches:
            if leftover is not None and len(leftover):
                pdf = pd.concat([leftover, pdf], ignore_index=True)
                leftover = None
            if len(pdf) == 0:
                continue
            chunk_col = (
                pdf["chunk"].to_numpy(np.int64)
                if "chunk" in pdf.columns
                else pdf["doc_id"].to_numpy(np.int64) // chunk_docs
            )
            lt = pdf["term"].iloc[-1]
            lc = chunk_col[-1]
            tail = (pdf["term"].to_numpy() == lt) & (chunk_col == int(lc))
            run = int(np.cumprod(tail[::-1]).sum())  # trailing-run length
            cut = len(pdf) - run
            if cut > 0:
                yield emit(pdf.iloc[:cut])
            leftover = pdf.iloc[cut:].copy()
        if leftover is not None and len(leftover):
            yield emit(leftover)

    return encode


def write_docs_stage(
    tokenized: DataFrame,
    order_cols,
    dirs: dict,
    n_partitions: Optional[int] = None,
) -> dict:
    """Write the docs stage from an already-TOKENIZED frame
    (``*order_cols, tokens``): dense docIDs in global order_cols order,
    dl = token count, with N/avgdl observed on the write (no second pass)
    and committed to ``build_state.json`` together with the written
    frame's DDL (``docs_schema``: the build's re-reads pin it). Shared by
    the fresh build (which tokenizes first) and the shard merge
    (``merge.py``, which reuses the shards' STORED token streams — a merge
    never re-tokenizes). Returns the state dict."""
    spark = tokenized.sparkSession
    docs = with_doc_ids(tokenized, order_cols=order_cols, n_partitions=n_partitions)
    id_handle = docs  # untransformed return value carries the persist handle
    docs = docs.withColumn("dl", F.size("tokens").cast("long")).select(
        DOC_ID, *order_cols, "tokens", "dl"
    )
    obs = Observation()
    (
        docs.observe(obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .write.mode("overwrite")
        .parquet(dirs["docs"])
    )
    got = obs.get
    if int(got["n"]) == 0:
        unpersist_doc_ids(id_handle)
        raise ValueError(
            "docs stage is empty — refusing to commit an index with no "
            "documents (avgdl undefined)"
        )
    state = {
        "n_docs": int(got["n"]),
        "avgdl": float(got["avgdl"]),
        "docs_schema": _schema_ddl(docs.schema),
    }
    unpersist_doc_ids(id_handle)
    fsio.write_text(spark, dirs["state"], json.dumps(state))
    return state


def _index_frame(
    docs: DataFrame,
    avgdl: float,
    params: Bm25Params,
    chunk_docs: int,
    positional: bool,
    payload: str,
    tfidf_doc_schema: str,
) -> DataFrame:
    """The index stage's rows (``INDEX_SCHEMA``): explode the stored tokens
    -> one range shuffle on (term, doc_id) -> chunked varbyte postings."""
    # dlq = round(dl/avgdl, 3)*1000 — integerized EXACTLY like the stored
    # footer value (bm25.py:76-81): round-half-even on the double, *1000
    dlq = F.round(F.round(F.col("dl") / F.lit(avgdl), 3) * 1000.0).cast("long")
    if payload == "tfidf":
        # reference 'doc:freq/w' lines: pre-agg tf, attach the stored-3dp
        # weight under tfidf_doc_schema (the SAME Spark expressions as
        # tfidf.tfidf_weights -> bit-identical stored values), quantize
        # losslessly into the third triple slot
        from ..query.tfidf import _uniform_tf_col

        occ = docs.select(DOC_ID, F.explode("tokens").alias("term"))
        tfagg = occ.groupBy("term", DOC_ID).agg(F.count("*").alias("tf"))
        wr = _uniform_tf_col(F.col("tf"), tfidf_doc_schema[0])
        if tfidf_doc_schema[2] == "c":
            norms = tfagg.groupBy(DOC_ID).agg(
                F.sqrt(F.sum(wr * wr)).alias("nrm")
            ).select(F.col(DOC_ID).alias("_nd"), "nrm")
            tok = tfagg.join(norms, F.col(DOC_ID) == F.col("_nd"))
            w_raw = wr / F.col("nrm")
        else:
            # 'n': every weight is 1 (reference uniform_weight 'n',
            # tf_idf.py:201); 'b': identity (no reference branch)
            tok = tfagg
            w_raw = F.lit(1.0) if tfidf_doc_schema[2] == "n" else wr
        tok = tok.select(
            "term",
            DOC_ID,
            "tf",
            F.round(F.bround(w_raw, 3) * 1000.0)
            .cast("long")
            .alias("dlq"),  # triple slot 3 = wq for this payload
        )
    elif positional:
        tok = docs.select(
            DOC_ID, dlq.alias("dlq"), F.posexplode("tokens").alias("pos", "term")
        )
    else:
        tok = docs.select(DOC_ID, dlq.alias("dlq"), F.explode("tokens").alias("term"))
    # ONE shuffle: raw token occurrences range-partitioned + sorted by
    # (term, doc_id) — chunk is monotone in doc_id so this order equals
    # (term, chunk, doc_id), and the encoder derives chunk itself (one
    # fewer shuffled column). tf comes out as run lengths, so no
    # (term, doc) pre-agg exchange is needed. The range layout doubles
    # as the merged, sorted on-disk index (spimi.py:211-236 analog);
    # min/max parquet stats on `term` then give point-lookup pruning
    # like the reference's binary search (index.py:93-131).
    sort_cols = ["term", DOC_ID] + (["pos"] if positional else [])
    sorted_tok = tok.repartitionByRange("term", DOC_ID).sortWithinPartitions(
        *sort_cols
    )
    return sorted_tok.mapInPandas(
        _encode_partition(params, chunk_docs, positional, payload),
        schema=INDEX_SCHEMA,
    )


def build_packed_index(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    path: str,
    params: Bm25Params = Bm25Params(),
    text_col: str = "text",
    order_cols=("conv_id", "turn_idx"),
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    n_partitions: Optional[int] = None,
    resume: bool = False,
    positional: bool = False,
    tfidf_sidecar: bool = False,
    payload: str = "freq",
    tfidf_doc_schema: str = "lnc",
    manifest_extra: Optional[dict] = None,
) -> dict:
    """Build the packed index at ``path``; returns the manifest dict.

    ``manifest_extra``: caller-supplied attestations merged into the
    manifest (e.g. ``shard_coherent_by`` from
    indexing/shards.build_shard_indexes — the flag federated
    parent-level merges validate). Keys may not collide with the
    build's own manifest keys.

    ``tfidf_sidecar=True`` additionally writes per-doc cosine norms for
    ALL THREE doc-side tf letters (doc_norms: doc_id, nrm = sqrt Σ_t
    (1+ln tf)^2 [the lnc norm], nrm_b = sqrt #terms, nrm_n = sqrt Σ tf^2)
    so TF-IDF serves from the packed index (query/proximity.py) under any
    SMART doc-side schema l|b|n × c — the stored-3dp doc-weight contract
    (tf_idf.py:114-115) derives w at decode as round(tf_w/nrm, 3).
    Non-cosine norms ('n'/'b') never need the sidecar.

    ``payload``: "freq" (doc_gap, tf, dlq triples — BM25/TF-IDF-servable),
    "boolean" (doc gaps only — the reference's BooleanPostingList option,
    ~3x smaller, boolean queries only), or "tfidf" (doc_gap, tf, wq triples
    where wq = the stored-3dp weight x1000 under ``tfidf_doc_schema``
    (default lnc) — the reference's 'doc:freq/w' index-line format,
    tf_idf.py:114-115: plain TF-IDF serves joinlessly from the postings;
    BM25 refused, no dl payload; the manifest records the baked schema and
    serving validates against it). The tfidf payload pre-aggregates
    (term, doc) tf to attach weights (two shuffles instead of one) and
    does not combine with positional — use ``tfidf_sidecar`` + positional
    for TF_IDF_OPTIMIZED."""
    if payload not in ("freq", "boolean", "tfidf"):
        raise ValueError(f"unknown payload {payload!r}")
    if payload == "tfidf" and not (
        len(tfidf_doc_schema) == 3
        and tfidf_doc_schema[0] in "lbn"
        and tfidf_doc_schema[1] == "n"
        and tfidf_doc_schema[2] in "cbn"
    ):
        raise ValueError(
            f"unsupported tfidf_doc_schema {tfidf_doc_schema!r} "
            "(doc-side SMART triple: tf in l|b|n, df must be 'n', "
            "norm in c|b|n)"
        )
    if payload == "boolean" and (positional or tfidf_sidecar):
        raise ValueError("boolean payload stores no tf — it cannot be "
                         "positional and has no tfidf sidecar")
    if payload == "tfidf" and positional:
        raise ValueError("tfidf payload pre-aggregates (term, doc) rows — "
                         "positions need the occurrence stream; build "
                         "positional=True with tfidf_sidecar instead")
    spark = transcripts.sparkSession
    dirs = _stage_dirs(path)
    stages: dict = {}  # stage -> wall seconds (a sidecar's on its own thread)
    t_build = time.perf_counter()

    # ---- stage docs: dense docIDs + tokens + lengths, ONE write job -------
    # N and avgdl ride the write as observed metrics instead of a separate
    # aggregation pass; tokens are stored so the index stage never
    # re-tokenizes (tokenization runs exactly once per corpus).
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["docs"]) and fsio.exists(spark, dirs["state"])):
        base = transcripts.select(
            *order_cols, tokens_column(F.col(text_col), cfg).alias("tokens")
        )
        write_docs_stage(base, order_cols, dirs, n_partitions=n_partitions)
    state = json.loads(fsio.read_text(spark, dirs["state"]))
    n_docs, avgdl = state["n_docs"], state["avgdl"]
    stages["docs"] = time.perf_counter() - t0

    docs = read_docs(spark, [dirs["docs"]], state.get("docs_schema"))

    pool = ThreadPoolExecutor(max_workers=2)

    def launch(stage: str, frame: DataFrame, *totals, parts: int = 0) -> Future:
        """Write sidecar ``stage`` from ``frame`` on the pool, observing
        ``totals`` on the write; returns a future of (seconds, totals). A
        resumed build reuses a stage that has both its _SUCCESS marker and
        its recorded totals."""
        if resume and _done(spark, dirs[stage]) and stage in state:
            skipped: Future = Future()
            skipped.set_result((0.0, state[stage]))
            return skipped

        def run():
            t0 = time.perf_counter()
            obs = Observation()
            out = frame.observe(obs, *totals)
            (out.coalesce(parts) if parts else out).write.mode("overwrite").parquet(
                dirs[stage]
            )
            return time.perf_counter() - t0, obs.get

        # the wrapper carries the caller's job group (and session tags)
        # into the pool thread, so every sidecar job stays attributed
        return pool.submit(inheritable_thread_target(spark)(run))

    def settle(stage: str, future: Future) -> None:
        """Wait for a sidecar (re-raising its failure) and commit its
        totals to build_state.json — only this, the main thread, writes."""
        stages[stage], state[stage] = future.result()
        fsio.write_text(spark, dirs["state"], json.dumps(state))

    with pool:
        # ---- stage lineage: per-file counts + doc ranges (pruned 2-col
        # scan); needs only the docs stage, so it runs beside the index
        lineage = launch(
            "lineage",
            docs.select(DOC_ID, "dl", F.input_file_name().alias("file"))
            .groupBy("file")
            .agg(
                F.count("*").alias("n_rows"),
                F.min(DOC_ID).alias("min_doc"),
                F.max(DOC_ID).alias("max_doc"),
                F.sum("dl").alias("n_tokens"),
                F.min("dl").alias("min_dl"),
                F.max("dl").alias("max_dl"),
            )
            .withColumn("stage", F.lit("docs")),
            F.min(F.round(F.col("min_dl") / F.lit(avgdl), 3)).alias("dl_norm_min"),
            F.max(F.round(F.col("max_dl") / F.lit(avgdl), 3)).alias("dl_norm_max"),
        )

        # ---- stage index: explode -> tf -> chunked varbyte postings -------
        t0 = time.perf_counter()
        if not (resume and _done(spark, dirs["index"])):
            # totals recorded against an earlier index are stale now
            stale = [state.pop(s) for s in ("lineage_index", "term_stats") if s in state]
            if stale:
                fsio.write_text(spark, dirs["state"], json.dumps(state))
            _index_frame(
                docs, avgdl, params, chunk_docs, positional, payload,
                tfidf_doc_schema,
            ).write.mode("overwrite").parquet(dirs["index"])
        stages["index"] = time.perf_counter() - t0

        index = spark.read.schema(INDEX_SCHEMA).parquet(dirs["index"])

        # ---- index-stage segment lineage: per-output-file (== per encode
        # partition) metrics — postings written, segment sizes, term ranges
        # (north_rule: per-partition lineage and metrics) ----------------
        lineage_index = launch(
            "lineage_index",
            index.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.count("*").alias("n_chunks"),
                F.sum("df_chunk").alias("n_postings"),
                F.sum(F.length("postings")).alias("postings_bytes"),
                F.min("term").alias("term_lo"),
                F.max("term").alias("term_hi"),
            )
            .withColumn("stage", F.lit("index")),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_postings").alias("n_postings"),
            F.sum("postings_bytes").alias("postings_bytes"),
        )

        # ---- stage stats: df/idf sidecar (the '.tiny', spimi.py:233-242) --
        term_stats = launch(
            "term_stats",
            index.groupBy("term")
            .agg(F.sum("df_chunk").alias("df"))
            .withColumn(
                "idf", F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 3)
            ),
            F.count(F.lit(1)).alias("n_terms"),
            parts=8,
        )

        # ---- optional stage doc_norms: cosine norms per doc (TF-IDF
        # sidecar) — one shuffle, three aggregates: the cosine denominator
        # for each doc-side tf letter (l: 1+ln tf, b: 0/1, n: raw tf) so
        # packed serving accepts any SMART doc-side schema; `nrm` keeps its
        # pre-generalization name (the lnc norm) for old-index compatibility
        if tfidf_sidecar:
            t0 = time.perf_counter()
            if not (resume and _done(spark, dirs["doc_norms"])):
                tfagg = (
                    docs.select(DOC_ID, F.explode("tokens").alias("term"))
                    .groupBy(DOC_ID, "term")
                    .agg(F.count("*").alias("tf"))
                )
                wr = F.lit(1.0) + F.log(F.col("tf").cast("double"))
                tfd = F.col("tf").cast("double")
                (
                    tfagg.groupBy(DOC_ID)
                    .agg(
                        F.sqrt(F.sum(wr * wr)).alias("nrm"),
                        F.sqrt(F.count("*").cast("double")).alias("nrm_b"),
                        F.sqrt(F.sum(tfd * tfd)).alias("nrm_n"),
                    )
                    .write.mode("overwrite")
                    .parquet(dirs["doc_norms"])
                )
            stages["doc_norms"] = time.perf_counter() - t0

        settle("lineage", lineage)
        settle("lineage_index", lineage_index)
        settle("term_stats", term_stats)

    # ---- manifest = commit marker (written last) ---------------------------
    # totals were observed on the sidecar writes above: no re-read here
    lin, li = state["lineage"], state["lineage_index"]
    n_postings = int(li["n_postings"] or 0)
    build_s = time.perf_counter() - t_build  # wall time: sidecars overlap
    conf = spark.conf
    manifest = {
        "format": "searchengine_spark.packed/1",
        "positional": positional,
        "tfidf_sidecar": tfidf_sidecar,
        "payload": payload,
        **({"tfidf_doc_schema": tfidf_doc_schema} if payload == "tfidf" else {}),
        "dl_norm_min": float(lin["dl_norm_min"] or 0.0),
        "dl_norm_max": float(lin["dl_norm_max"] or 0.0),
        "spark_conf": {
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions", None),
            "adaptive_enabled": conf.get("spark.sql.adaptive.enabled", None),
            "skew_join_enabled": conf.get(
                "spark.sql.adaptive.skewJoin.enabled", None
            ),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        },
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k": params.k,
        "b": params.b,
        "chunk_docs": chunk_docs,
        "tokenizer": cfg.to_manifest(),
        "order_cols": list(order_cols),
        **({"docs_schema": state["docs_schema"]} if "docs_schema" in state else {}),
        "n_terms": int(state["term_stats"]["n_terms"]),
        "n_chunks": int(li["n_chunks"] or 0),
        "n_postings": n_postings,
        "postings_bytes": int(li["postings_bytes"] or 0),
        "metrics": {
            "stage_seconds": {s: round(v, 3) for s, v in stages.items()},
            "build_seconds": round(build_s, 3),
            "docs_per_sec": round(n_docs / max(build_s, 1e-9), 1),
            "postings_per_sec": round(n_postings / max(build_s, 1e-9), 1),
        },
    }
    if manifest_extra:
        clash = set(manifest_extra) & set(manifest) | {"snapshot_seq"} & set(
            manifest_extra)
        if clash:
            raise ValueError(
                f"manifest_extra keys collide with build keys: {sorted(clash)}")
        manifest.update(manifest_extra)
    # a fresh build starts snapshot history at 0 (maintenance commits
    # archive superseded manifests under snapshots/; indexing/snapshots.py)
    manifest["snapshot_seq"] = 0
    fsio.delete(spark, fsio.join(path, "snapshots"))
    fsio.write_text(spark, dirs["manifest"], json.dumps(manifest, indent=1))
    return manifest


class PackedIndex:
    """Handle over an on-disk packed index (lazy DataFrames + manifest)."""

    def __init__(self, spark: SparkSession, path: str, snapshot: int | None = None):
        dirs = _stage_dirs(path)
        if not fsio.exists(spark, dirs["manifest"]):
            raise FileNotFoundError(f"no committed index at {path} (manifest.json missing)")
        self.path = path
        if snapshot is not None:
            # time travel: the archived manifest of a past commit
            # (indexing/snapshots.py — raises SnapshotExpired past the
            # delayed-GC retention window)
            from .snapshots import load_snapshot_manifest

            self.manifest = load_snapshot_manifest(spark, path, snapshot)
        else:
            self.manifest = json.loads(fsio.read_text(spark, dirs["manifest"]))
        # streaming appends live in epoch dirs registered in the manifest —
        # only COMMITTED epochs are visible (exactly-once; incremental.py).
        # Base stage dirs are manifest-driven so compaction (compact.py) can
        # swing readers to a merged layout with one manifest replace.
        epochs = [a["batch_id"] for a in self.manifest.get("appends", [])]
        index_paths = [
            fsio.join(path, self.manifest.get("index_dir", "index"))
        ] + [fsio.join(path, "index_appends", str(b)) for b in epochs]
        docs_paths = [
            fsio.join(path, self.manifest.get("docs_dir", "docs"))
        ] + [fsio.join(path, "docs_appends", str(b)) for b in epochs]
        # every read pins its writer's schema (no footer-inference job);
        # docs fall back to inference on manifests without docs_schema
        self.index = spark.read.schema(INDEX_SCHEMA).parquet(*index_paths)
        self.term_stats = spark.read.schema(TERM_STATS_SCHEMA).parquet(
            fsio.join(path, self.manifest.get("term_stats_dir", "term_stats"))
        )
        self.spark = spark
        self._docs_paths = docs_paths
        # docmap is a column-pruned view over the docs stage (no separate
        # sink): parquet reads just (doc_id, *order_cols) column chunks
        self.docmap = self.docs_stage().select(DOC_ID, *self.manifest["order_cols"])
        self.doc_norms = (
            spark.read.parquet(
                fsio.join(path, self.manifest.get("doc_norms_dir", "doc_norms")),
                *[fsio.join(path, "doc_norms_appends", str(b)) for b in epochs],
            )
            if self.manifest.get("tfidf_sidecar")
            else None
        )
        self._delete_mask_loaded = False
        self._delete_mask = None

    def docs_stage(self) -> DataFrame:
        """The FULL docs stage (doc_id, *order_cols, tokens, dl) across the
        base layout and every committed epoch — the stored token streams
        with their external keys. Feeds the shard merge (indexing/merge.py),
        which re-sorts these rows globally instead of re-tokenizing."""
        return read_docs(self.spark, self._docs_paths, self.manifest.get("docs_schema"))

    def doc_tokens(self) -> DataFrame:
        """(doc_id, tokens) pruned view over the docs stage — the stored
        token streams (tokenization ran exactly once, at build; the index
        stage and this view both read them instead of re-tokenizing).
        Feeds PRF expansion / more-like-this (query/feedback.py), which
        need document term vectors for a BOUNDED doc set — callers
        semi-join it with their doc ids so the scan stays pruned."""
        return self.docs_stage().select(DOC_ID, "tokens")

    def delete_mask(self):
        """Committed tombstone set as a :class:`~.deletes.DeleteMask`
        (None when the manifest lists no deletes). Loaded once, lazily —
        the serving paths pass it into their decode hooks so deleted docs
        never reach a scorer (indexing/deletes.py)."""
        if not self._delete_mask_loaded:
            from .deletes import load_delete_mask

            self._delete_mask = load_delete_mask(
                self.spark, self.path, self.manifest
            )
            self._delete_mask_loaded = True
        return self._delete_mask

    @property
    def params(self) -> Bm25Params:
        return Bm25Params(k=self.manifest["k"], b=self.manifest["b"])


def load_packed_index(
    spark: SparkSession, path: str, snapshot: int | None = None
) -> PackedIndex:
    return PackedIndex(spark, path, snapshot=snapshot)


def exploded_view(pidx: PackedIndex, include_positions: bool = False) -> DataFrame:
    """Decode the packed index back to (term, doc_id, tf, dl_norm
    [, positions]) rows — the uncompressed test view (SURVEY.md §1.3);
    gates M2 ≡ M1. ``include_positions`` requires a positional build and
    emits the comma-joined string form ('doc:pos1,pos2,…' payloads,
    positional_posting_list.py:50-51)."""
    payload = pidx.manifest.get("payload", "freq")
    # third decoded value: dl_norm for freq payloads, the stored-3dp lnc
    # weight for tfidf payloads ('doc:freq/w' analog), absent for boolean
    third = "w" if payload == "tfidf" else "dl_norm"
    fields = [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField(third, T.DoubleType(), False),
    ]
    if include_positions:
        fields.append(T.StructField("positions", T.StringType(), False))
    out_schema = T.StructType(fields)
    boolean = payload == "boolean"
    if include_positions and payload != "freq":
        raise ValueError(f"{payload} payload stores no positions")

    def decode(batches: Iterable[pd.DataFrame]):
        import numpy as np

        from .codec import decode_docs, decode_positions, decode_postings

        for pdf in batches:
            frames = []
            for i, (term, buf) in enumerate(zip(pdf["term"], pdf["postings"])):
                if boolean:
                    # presence-only payload: tf=1, dl_norm unavailable (0.0)
                    doc_ids = decode_docs(bytes(buf))
                    tfs = np.ones(len(doc_ids), dtype=np.int64)
                    dl_norm = np.zeros(len(doc_ids), dtype=np.float64)
                else:
                    doc_ids, tfs, dl_norm = decode_postings(bytes(buf))
                cols = {"term": term, "doc_id": doc_ids, "tf": tfs, third: dl_norm}
                if include_positions:
                    flat, occ_starts = decode_positions(
                        bytes(pdf["positions"].iloc[i]), tfs
                    )
                    ends = list(occ_starts[1:]) + [len(flat)]
                    cols["positions"] = [
                        ",".join(map(str, flat[s:e]))
                        for s, e in zip(occ_starts, ends)
                    ]
                frames.append(pd.DataFrame(cols))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return pidx.index.mapInPandas(decode, schema=out_schema)
