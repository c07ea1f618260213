"""Compaction: fold append epochs + delete tombstones into a fresh base.

A long-lived streaming index accumulates epoch dirs (one per micro-batch;
readers union them and WAND concatenates same-chunk rows) and tombstone
sets (shipped to every scoring task as a mask). Both are O(1) per
maintenance op by design — and both are debt the reader pays per query.
:func:`compact_index` settles it, the Lucene-segment-merge analog:

- every (term, chunk) posting row across base + epochs is decoded,
  tombstoned docs dropped, and the survivors re-encoded through the SAME
  vectorized partition encoder the bulk build uses
  (packed._encode_partition after one repartitionByRange(term, doc_id) —
  the single wide shuffle, identical to a build's index stage), yielding
  one row per (term, chunk) in a fresh term-sorted layout;
- the docs stage and the doc_norms sidecar are rewritten minus tombstones;
- term_stats needs NO rewrite: delete/append delta merges keep it exact at
  all times (deletes.py / incremental.py) — compaction changes bytes, not
  logical content;
- the atomic manifest replace swings readers to the merged dirs
  (``index_dir``/``docs_dir``/``doc_norms_dir``) and clears the
  ``appends``/``deletes`` ledgers in the same commit.

Invariant (gated in tests/test_compact.py): every query result is
IDENTICAL before and after compaction, for every payload/ranker — docIDs
are never renumbered (``n_docs`` stays the high-water mark), avgdl and the
stored dlq/weight payloads are preserved bit-for-bit through the
decode->encode round-trip (dlq is integer-quantized, so the trip is
lossless), and idf was already exact.

GC discipline: the superseded dirs are registered as a GROUP in the
manifest (``gc_groups``) and physically removed by the NEXT compaction —
an in-flight reader holding the pre-compaction manifest needs ALL of them
alive, not just the newest (the reason this is not the one-dir
``gc_pending`` queue appends/deletes use for term_stats versions).
"""

from __future__ import annotations

import json
from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .build import Bm25Params
from .codec import decode_docs, decode_positions, decode_postings
from .deletes import TOMBSTONE_SCHEMA, load_delete_mask
from .packed import INDEX_SCHEMA, _encode_partition, read_docs


def _decode_to_rows(payload: str, positional: bool, mask):
    """mapInPandas kernel: packed rows -> the encoder's input rows
    (occurrences for positional builds, postings otherwise), tombstones
    dropped. dlq round-trips losslessly (it is stored integer-quantized)."""

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                if payload == "boolean":
                    doc_ids = decode_docs(bytes(row.postings))
                    tfs = np.ones(len(doc_ids), dtype=np.int64)
                    dlqs = np.zeros(len(doc_ids), dtype=np.int64)
                    flat = None
                else:
                    doc_ids, tfs, third = decode_postings(bytes(row.postings))
                    dlqs = np.rint(third * 1000.0).astype(np.int64)
                    flat = None
                    if positional:
                        flat, _occ = decode_positions(bytes(row.positions), tfs)
                keep = mask.keep_mask(doc_ids) if mask is not None else None
                if keep is not None:
                    if flat is not None:
                        flat = flat[np.repeat(keep, tfs)]
                    doc_ids, tfs, dlqs = doc_ids[keep], tfs[keep], dlqs[keep]
                if not len(doc_ids):
                    continue
                if positional:
                    outs.append(
                        pd.DataFrame(
                            {
                                "term": row.term,
                                "doc_id": np.repeat(doc_ids, tfs),
                                "dlq": np.repeat(dlqs, tfs),
                                "pos": flat,
                            }
                        )
                    )
                else:
                    outs.append(
                        pd.DataFrame(
                            {
                                "term": row.term,
                                "doc_id": doc_ids,
                                "tf": tfs,
                                "dlq": dlqs,
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return run


def merged_index_plan(
    spark: SparkSession,
    manifest: dict,
    index_paths: list,
    mask,
    n_partitions: Optional[int] = None,
):
    """The compaction index-rewrite DataFrame (separated so the plan-shape
    gate can assert it stays ONE wide exchange, like a build)."""
    payload = manifest.get("payload", "freq")
    positional = bool(manifest.get("positional"))
    params = Bm25Params(k=manifest["k"], b=manifest["b"])
    chunk_docs = int(manifest["chunk_docs"])
    rows = spark.read.schema(INDEX_SCHEMA).parquet(*index_paths).mapInPandas(
        _decode_to_rows(payload, positional, mask),
        schema=(
            "term string, doc_id long, dlq long, pos long"
            if positional
            else "term string, doc_id long, tf long, dlq long"
        ),
    )
    sort_cols = ["term", "doc_id"] + (["pos"] if positional else [])
    parted = (
        rows.repartitionByRange(n_partitions, "term", "doc_id")
        if n_partitions
        else rows.repartitionByRange("term", "doc_id")
    )
    return parted.sortWithinPartitions(*sort_cols).mapInPandas(
        _encode_partition(params, chunk_docs, positional, payload),
        schema=INDEX_SCHEMA,
    )


def compact_index(
    spark: SparkSession,
    path: str,
    n_partitions: Optional[int] = None,
    force: bool = False,
) -> dict:
    """Merge all committed epochs and tombstones of the packed index at
    ``path`` into a fresh base layout; returns the updated manifest.
    A no-op (manifest returned unchanged) when there is nothing to fold,
    unless ``force=True`` (pure re-layout)."""
    manifest_path = fsio.join(path, "manifest.json")
    manifest = json.loads(fsio.read_text(spark, manifest_path))
    appends = manifest.get("appends", [])
    deletes = manifest.get("deletes", [])
    if not appends and not deletes and not force:
        return manifest

    version = int(manifest.get("compaction", 0)) + 1
    mask = load_delete_mask(spark, path, manifest)

    from .snapshots import referenced_dirs_by_kind

    kinds = referenced_dirs_by_kind(path, manifest)  # canonical inventory
    old_index = kinds["index"]
    old_docs = kinds["docs"]
    old_norms = kinds.get("doc_norms", [])
    old_tombs = kinds["tombstones"]

    # ---- index rewrite: decode -> mask -> the build's own encode stage ----
    merged = merged_index_plan(
        spark, manifest, old_index, mask, n_partitions=n_partitions
    )
    new_index = fsio.join(path, f"index_v{version}")
    written = Observation()
    merged.observe(
        written, F.sum(F.length("postings")).alias("postings_bytes")
    ).write.mode("overwrite").parquet(new_index)

    # ---- docs + sidecar rewrite (minus tombstones) -------------------------
    docs = read_docs(spark, old_docs, manifest.get("docs_schema"))
    if old_tombs:
        tombs = spark.read.schema(TOMBSTONE_SCHEMA).parquet(*old_tombs)
        docs = docs.join(tombs, "doc_id", "left_anti")
    new_docs = fsio.join(path, f"docs_v{version}")
    docs.write.mode("overwrite").parquet(new_docs)
    new_norms = None
    if old_norms:
        norms = spark.read.parquet(*old_norms)
        if old_tombs:
            norms = norms.join(
                spark.read.schema(TOMBSTONE_SCHEMA).parquet(*old_tombs),
                "doc_id",
                "left_anti",
            )
        new_norms = fsio.join(path, f"doc_norms_v{version}")
        norms.write.mode("overwrite").parquet(new_norms)

    # ---- commit: one atomic manifest replace -------------------------------
    # groups from earlier compactions that still have dirs on disk (a crash
    # between a past commit and its GC loop leaves survivors) are CARRIED
    # into the new manifest and re-deleted below — self-healing, no orphans
    prev_groups = [
        g
        for g in manifest.get("gc_groups", [])
        if any(fsio.exists(spark, d) for d in g)
    ]
    manifest["compaction"] = version
    manifest["postings_bytes"] = int(written.get["postings_bytes"] or 0)
    manifest["index_dir"] = f"index_v{version}"
    manifest["docs_dir"] = f"docs_v{version}"
    if new_norms is not None:
        manifest["doc_norms_dir"] = f"doc_norms_v{version}"
    # clearing the ledgers must never reset the epoch/delete high-water
    # marks (retried or defaulted ids would reuse pending-GC dir names)
    manifest["append_seq"] = max(
        int(manifest.get("append_seq", 0)),
        max((int(a["batch_id"]) for a in appends), default=-1) + 1,
    )
    manifest["delete_seq"] = max(
        int(manifest.get("delete_seq", 0)),
        max((int(d["version"]) for d in deletes), default=-1) + 1,
    )
    manifest["appends"] = []
    manifest["deletes"] = []
    # everything the OLD manifest referenced retires as one group — deleted
    # only by the NEXT compaction (see module docstring)
    manifest["gc_groups"] = prev_groups + [
        sorted(set(old_index + old_docs + old_norms + old_tombs))
    ]
    from .snapshots import commit_manifest

    commit_manifest(spark, path, manifest)
    # lineage record (north_rule: per-partition lineage + metrics), written
    # POST-commit: lineage_stream is append-mode, so a pre-commit write
    # would leave an orphan row when a crashed compaction is retried
    spark.createDataFrame(
        [(version, len(appends), len(deletes), int(manifest["n_postings"]))],
        "version long, n_appends long, n_deletes long, n_postings long",
    ).withColumn("stage", F.lit("compaction")).write.mode("append").parquet(
        fsio.join(path, "lineage_stream")
    )
    for group in prev_groups:
        for d in group:
            fsio.delete(spark, d)
    return manifest
