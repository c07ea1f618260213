"""Index integrity verification (fsck): is this packed index internally
consistent — layout, ledgers, stats, and (deep mode) every posting byte?

At 100 TB an index outlives any single job: it accumulates append epochs,
tombstone sets and compactions across many writers, and a torn write or a
lost file must be DETECTED, not discovered as silently wrong top-k.
``verify_index`` is the detection tool (Lucene CheckIndex analog):

shallow (metadata-only, no posting decode — seconds at any scale):
  - every dir the manifest references exists (base stages, epoch dirs,
    tombstones, the term_stats version);
  - docs stage: doc_id unique, count == n_docs (the high-water mark),
    ids exactly [0, n_docs);
  - tombstones: count == n_docs - n_docs_live, every id in [0, n_docs);
  - Σ df_chunk over index rows == n_postings + Σ tombstoned postings
    (manifest n_postings is live-exact by the delete delta contract), and
    Σ stored postings bytes == the manifest's postings_bytes, where the
    manifest records it;
  - doc_norms (sidecar builds): exactly one row per doc with dl > 0.

deep (adds ONE decoding pass over the index — the cost of a full scan):
  - every postings buffer decodes; doc_ids strictly ascending, inside the
    row's chunk range and [0, n_docs); count == df_chunk; first_doc /
    last_doc match;
  - max_tfsat equals a recompute from the decoded values (freq payload:
    BM25 saturation at the manifest (k, b); tfidf: max stored weight;
    boolean: 1.0) — the WAND pruning bound is only safe if this holds;
  - positional builds: the position stream parses to exactly Σ tf values;
  - per-term LIVE posting count (tombstones masked) == term_stats.df for
    every term, both directions — the exactness the delta merges promise.

Returns {"ok": bool, "errors": [...], "checks": {...}}; never raises on a
corrupt index (callers decide). ``jobs/maintain.py --fsck/--fsck-deep``
is the CLI surface.
"""

from __future__ import annotations

import json
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import fsio
from .codec import decode_docs, decode_positions, decode_postings, tf_saturation
from .deletes import load_delete_mask

MAX_ERRORS = 50  # keep the report bounded


def _deep_kernel(payload: str, positional: bool, chunk_docs: int,
                 k: float, b: float, n_docs: int, mask):
    """mapInPandas: per index row -> (term, df_live, err) after decoding
    and checking the row. err = '' when clean."""

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            terms, dfs, errs = [], [], []
            for row in pdf.itertuples(index=False):
                err = ""
                try:
                    if payload == "boolean":
                        doc_ids = decode_docs(bytes(row.postings))
                        tfs = None
                        sat_max = 1.0
                    else:
                        doc_ids, tfs, third = decode_postings(bytes(row.postings))
                        if payload == "tfidf":
                            sat_max = float(third.max()) if len(third) else 0.0
                        else:
                            sat_max = (
                                float(tf_saturation(tfs, third, k, b).max())
                                if len(tfs)
                                else 0.0
                            )
                    lo, hi = row.chunk * chunk_docs, (row.chunk + 1) * chunk_docs
                    if len(doc_ids) != row.df_chunk:
                        err = f"df_chunk={row.df_chunk} decoded={len(doc_ids)}"
                    elif len(doc_ids) == 0:
                        err = "empty postings row"
                    elif not bool(np.all(doc_ids[1:] > doc_ids[:-1])):
                        err = "doc_ids not strictly ascending"
                    elif int(doc_ids[0]) < lo or int(doc_ids[-1]) >= hi:
                        err = f"doc range [{doc_ids[0]},{doc_ids[-1]}] outside chunk [{lo},{hi})"
                    elif int(doc_ids[0]) != row.first_doc or int(doc_ids[-1]) != row.last_doc:
                        err = "first_doc/last_doc mismatch"
                    elif int(doc_ids[-1]) >= n_docs:
                        err = f"doc_id {doc_ids[-1]} >= n_docs {n_docs}"
                    elif sat_max != row.max_tfsat:
                        err = f"max_tfsat stored={row.max_tfsat} recomputed={sat_max}"
                    elif positional:
                        flat, _occ = decode_positions(bytes(row.positions), tfs)
                        if len(flat) != int(tfs.sum()):
                            err = f"position stream {len(flat)} != sum tf {int(tfs.sum())}"
                    live = len(doc_ids)
                    if mask is not None and not err:
                        keep = mask.keep_mask(doc_ids)
                        if keep is not None:
                            live = int(keep.sum())
                except Exception as e:  # torn buffer, bad varbyte, …
                    err, live = f"decode failed: {e}", 0
                terms.append(row.term)
                dfs.append(live)
                errs.append(f"term={row.term} chunk={row.chunk}: {err}" if err else "")
            yield pd.DataFrame({"term": terms, "df_live": dfs, "err": errs})

    return run


def verify_index(spark: SparkSession, path: str, deep: bool = False) -> dict:
    errors: list = []
    checks: dict = {}

    def fail(msg: str) -> None:
        if len(errors) < MAX_ERRORS:
            errors.append(msg)

    manifest_path = fsio.join(path, "manifest.json")
    if not fsio.exists(spark, manifest_path):
        return {"ok": False, "errors": [f"no manifest at {path}"], "checks": {}}
    manifest = json.loads(fsio.read_text(spark, manifest_path))
    n_docs = int(manifest["n_docs"])
    n_live = int(manifest.get("n_docs_live", n_docs))
    deletes = manifest.get("deletes", [])

    # ---- dirs the manifest references (the shared canonical inventory) ----
    from .snapshots import referenced_dirs_by_kind

    dirs = referenced_dirs_by_kind(path, manifest)
    for kind, ds in dirs.items():
        for d in ds:
            if not fsio.exists(spark, d):
                fail(f"missing {kind} dir: {d}")
    if errors:
        return {"ok": False, "errors": errors, "checks": checks}

    # ---- docs stage -------------------------------------------------------
    docs = spark.read.parquet(*dirs["docs"])
    agg = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count(F.when(F.col("dl") > 0, 1)).alias("n_nonempty"),
    ).collect()[0]
    checks["docs_rows"] = agg["n"]
    if agg["n"] != agg["n_distinct"]:
        fail(f"docs stage has duplicate doc_ids ({agg['n']} rows, {agg['n_distinct']} distinct)")
    # n_docs is the HIGH-WATER id mark: compaction removes tombstoned rows
    # physically (holes are legal) but ids never exceed it
    if agg["n"] and (agg["lo"] < 0 or agg["hi"] >= n_docs):
        fail(f"docID range [{agg['lo']},{agg['hi']}] outside [0,{n_docs})")

    # ---- tombstones: on-disk set == the deletes ledger, and the docs
    # stage must hold exactly the live docs plus the not-yet-compacted
    # tombstoned ones -------------------------------------------------------
    ledger_tombs = sum(int(d["n_docs"]) for d in deletes)
    checks["tombstones"] = 0
    if dirs["tombstones"]:
        tombs = spark.read.parquet(*dirs["tombstones"])
        tagg = tombs.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ).collect()[0]
        checks["tombstones"] = tagg["n"]
        if tagg["n"] != tagg["nd"]:
            fail("duplicate tombstone doc_ids")
        if tagg["n"] and (tagg["lo"] < 0 or tagg["hi"] >= n_docs):
            fail(f"tombstone id outside [0,{n_docs})")
        orphans = tombs.join(docs.select("doc_id"), "doc_id", "left_anti").count()
        if orphans:
            fail(f"{orphans} tombstones reference docs absent from the docs stage")
    if checks["tombstones"] != ledger_tombs:
        fail(f"{checks['tombstones']} tombstones on disk, deletes ledger says {ledger_tombs}")
    if agg["n"] != n_live + checks["tombstones"]:
        fail(
            f"docs stage has {agg['n']} rows, expected n_docs_live {n_live}"
            f" + pending tombstones {checks['tombstones']}"
        )

    # ---- posting counts vs ledgers ---------------------------------------
    index = spark.read.parquet(*dirs["index"])
    row = index.agg(F.sum("df_chunk"), F.sum(F.length("postings"))).collect()[0]
    sum_df, stored = int(row[0] or 0), int(row[1] or 0)
    tomb_postings = sum(int(d["n_postings"]) for d in deletes)
    checks["index_postings"] = sum_df
    if sum_df != int(manifest["n_postings"]) + tomb_postings:
        fail(
            f"sum(df_chunk)={sum_df} != n_postings {manifest['n_postings']}"
            f" + tombstoned {tomb_postings}"
        )
    if "postings_bytes" in manifest and stored != int(manifest["postings_bytes"]):
        fail(f"stored postings bytes {stored} != postings_bytes "
             f"{manifest['postings_bytes']} (the preload budget)")

    # ---- sidecar coverage --------------------------------------------------
    if manifest.get("tfidf_sidecar"):
        norms = spark.read.parquet(*dirs["doc_norms"])
        nn = norms.select("doc_id").distinct().count()
        checks["doc_norms_rows"] = nn
        if nn != agg["n_nonempty"]:
            fail(f"doc_norms covers {nn} docs, {agg['n_nonempty']} docs have dl>0")

    # doc_attrs sidecar (indexing/attrs.py), when present: manifest
    # parseable, chunk grid matches the index, coverage == its recorded
    # high-water mark (attach_attr refuses stale sidecars at serve time;
    # fsck reports the staleness so operators see it BEFORE queries do)
    from .attrs import ATTRS_DIR, ATTRS_MANIFEST

    aman_path = fsio.join(path, ATTRS_MANIFEST)
    if fsio.exists(spark, aman_path):
        try:
            aman = json.loads(fsio.read_text(spark, aman_path))
        except Exception as exc:  # torn write
            aman = None
            fail(f"doc_attrs.json unreadable: {exc}")
        if aman is not None:
            if int(aman.get("chunk_docs", -1)) != int(manifest["chunk_docs"]):
                fail(
                    f"doc_attrs chunk_docs {aman.get('chunk_docs')} != "
                    f"index chunk_docs {manifest['chunk_docs']}")
            if not fsio.exists(spark, fsio.join(path, ATTRS_DIR)):
                fail("doc_attrs.json present but doc_attrs/ dir missing")
            else:
                side = spark.read.parquet(fsio.join(path, ATTRS_DIR))
                first = sorted(aman.get("cols", {}))[:1]
                if first:
                    covered = int(
                        side.agg(
                            F.sum(F.size(first[0]))).collect()[0][0] or 0)
                    checks["doc_attrs_values"] = covered
                    if covered != int(aman["n_docs"]):
                        fail(
                            f"doc_attrs holds {covered} values, its "
                            f"manifest says n_docs={aman['n_docs']}")
            if aman is not None and int(aman.get("n_docs", -1)) != int(
                    manifest["n_docs"]):
                fail(
                    f"doc_attrs is STALE: written at n_docs="
                    f"{aman.get('n_docs')}, index now at "
                    f"{manifest['n_docs']} (rewrite with "
                    "maintain.py --attrs-sidecar)")

    if not deep:
        return {"ok": not errors, "errors": errors, "checks": checks}

    # ---- deep: decode every row, recheck bounds, masked df == term_stats --
    mask = load_delete_mask(spark, path, manifest)
    kernel = _deep_kernel(
        manifest.get("payload", "freq"),
        bool(manifest.get("positional")),
        int(manifest["chunk_docs"]),
        float(manifest["k"]),
        float(manifest["b"]),
        n_docs,
        mask,
    )
    scanned = index.mapInPandas(
        kernel, schema="term string, df_live long, err string"
    ).persist()
    row_errs = [r["err"] for r in scanned.filter("err != ''").limit(MAX_ERRORS).collect()]
    for e in row_errs:
        fail(e)
    checks["rows_decoded"] = scanned.count()
    df_live = scanned.groupBy("term").agg(F.sum("df_live").alias("df_live"))
    stats = spark.read.parquet(*dirs["term_stats"]).select("term", "df")
    mismatch = (
        df_live.join(stats, "term", "full_outer")
        .filter(
            "coalesce(df_live, 0) != coalesce(df, 0) "
            "AND NOT (df IS NULL AND df_live = 0)"  # fully-tombstoned term
        )
        .limit(MAX_ERRORS)
        .collect()
    )
    scanned.unpersist()
    checks["df_mismatches"] = len(mismatch)
    for r in mismatch:
        fail(
            f"term={r['term']}: live postings {r['df_live']} != term_stats df {r['df']}"
        )
    return {"ok": not errors, "errors": errors, "checks": checks}
