"""Block compaction: merge undersized blocks into full ones.

Streaming appends (micro-batches) and resumed runs leave small blocks —
each block carries fixed metadata (schema descriptors, framing headers,
symbol tables) and small chunks compress worse, so at 10^12-turn scale
the block-size distribution must be maintainable.  Compaction decodes
only the undersized blocks, re-encodes them clustered at full batch size,
and rewrites the block table; committed dictionaries are REUSED verbatim
(code assignment preserved — the delta-merge invariant,
/root/reference/src/dictionary_cache.cpp:20-111), so untouched blocks
stay byte-identical and no dictionary rows change.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.compute as pc
from pyspark.sql import SparkSession, functions as F

from sparrow_ipc_spark.operators.decode_job import decode_blocks, dedupe_blocks
from sparrow_ipc_spark.operators.encode_job import (
    encode_transcripts,
    payload_from_dict_rows,
)
from sparrow_ipc_spark.schema import BLOCK_SCHEMA, TRANSCRIPTS_SCHEMA
from sparrow_ipc_spark.sources import manifest as M


def compact_blocks(
    spark: SparkSession,
    out_dir: str,
    small_rows: int = 8192,
    target_rows: int = 65536,
    schema=None,
    dict_cols=None,
) -> dict:
    """Merge blocks with fewer than ``small_rows`` rows into ~``target_rows``
    blocks.  Returns {before, after, compacted, rows_moved}.

    ``schema=None`` resolves the directory's ``_schema.json`` sidecar (any
    ``encode_table``-written dir compacts without arguments); clustering
    keys come from ``_job.json`` when present, falling back to
    conv_id/turn_idx if those columns exist, else a shuffle-free re-batch.

    A table whose manifest does not map its block files one-to-one (a
    compaction that crashed between its directory swap and its manifest
    rewrite, legacy rows without ``file``) is rewritten even when nothing
    is small, so a re-run always leaves a manifest that names every block
    file on disk.

    NOTE: the commit plane is local-filesystem only (like every writer's,
    see ``manifest.require_local_dir``); the directory swap here is a pair
    of local renames."""
    import json as _json

    from sparrow_ipc_spark.operators.encode_job import load_schema_sidecar

    # ONE commit transaction for the WHOLE compaction — from the first read
    # of block state through the swap — not just around the swap: the
    # staged rewrite and the minted part_offset are snapshots of committed
    # state, and an append committed mid-staging would be silently
    # destroyed by a swap based on a stale snapshot.  Concurrent appenders
    # simply queue on the lease (offline maintenance vs. ingest — the
    # queueing is the design, a catalog CAS would force the same
    # serialization).
    with M.CommitTransaction(out_dir) as tx:
        out_dir = tx.path
        if schema is None:
            schema = load_schema_sidecar(out_dir) or TRANSCRIPTS_SCHEMA
        job: dict = {}
        jp = os.path.join(out_dir, "_job.json")
        if os.path.isfile(jp):
            with open(jp) as jf:
                job = _json.load(jf)
        # committed state only: unmanifested crash leftovers beside the
        # committed files would otherwise be re-encoded INTO committed
        # blocks (and, once rewritten and manifested, never deduped again).
        # The shared guarded vacuum deletes them; where its guard refuses
        # (legacy rows without ``file``, hand-rewritten dirs) the manifest
        # still does not map disk 1:1 and the same byte-identical dedupe
        # decode_dir applies runs before anything is read
        M.vacuum_orphan_blocks(out_dir)
        blocks = spark.read.schema(BLOCK_SCHEMA).parquet(f"{out_dir}/blocks")
        healthy = M.committed_block_files(out_dir) is not None
        if not healthy:
            blocks = dedupe_blocks(blocks)
        # scalar aggregates only — collecting per-block metadata rows to
        # the driver would be O(blocks) dicts (~15M at 10^12 turns)
        agg = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("part_id").alias("max_part"),
            F.sum((F.col("n_rows") < small_rows).cast("long")).alias("n_small"),
        ).first()
        before = int(agg["n_blocks"] or 0)
        n_small = int(agg["n_small"] or 0)
        if n_small <= 1 and healthy:
            return {"before": before, "after": before, "compacted": 0, "rows_moved": 0}
        # the prior snapshot lineage, read once, before the swap: untouched
        # parts keep it.  A read error propagates — treating it as "no
        # lineage" would stamp every part with the new snapshot
        prev = M.read_manifest_table(out_dir, ["part_id", "snapshot"])
        prev_snap = dict(zip(prev.column("part_id").to_pylist(),
                             pc.fill_null(prev.column("snapshot"), 0).to_pylist()))

        small = blocks.where(F.col("n_rows") < small_rows)
        dict_rows = M.read_dict_rows(out_dir)
        payload = payload_from_dict_rows(dict_rows)
        dec = decode_blocks(spark, small, dict_rows, schema=schema)
        rows_moved = dec.count()
        part_offset = int(agg["max_part"] if agg["max_part"] is not None else -1) + 1
        n_parts = max(1, (rows_moved + target_rows - 1) // target_rows)
        cols = tuple(payload.keys()) if dict_cols is None else tuple(dict_cols)
        names = [f.name for f in schema.fields]
        cluster_by = job.get("cluster_by") if job.get("cluster_by") in names else (
            "conv_id" if "conv_id" in names else None)
        order_by = job.get("order_by") if job.get("order_by") in names else (
            "turn_idx" if "turn_idx" in names else None)
        if cluster_by:
            new_blocks, _, _ = encode_transcripts(
                spark, dec, n_parts=n_parts, dict_cols=cols, dict_payload=payload,
                part_offset=part_offset, cluster_by=cluster_by, order_by=order_by,
            )
        else:  # generic table: shuffle-free re-batch into right-sized blocks
            new_blocks, _, _ = encode_transcripts(
                spark, dec.repartition(n_parts), dict_cols=cols,
                dict_payload=payload, part_offset=part_offset, clustered=True,
            )
        keep = blocks.where(F.col("n_rows") >= small_rows)
        combined = keep.unionByName(new_blocks)

        # parquet dirs are immutable while read: stage the rewrite, then
        # swap.  The lease has been held since before the first state read,
        # so no append can have committed into the dir being renamed away;
        # assert it right before the destructive swap all the same.
        bd = f"{out_dir}/blocks"
        tmp = f"{out_dir}/blocks_compact_{uuid.uuid4().hex[:8]}"
        combined.write.mode("overwrite").option("compression", "snappy").parquet(tmp)  # bodies pre-zstd'd
        tx.assert_held()
        old = f"{out_dir}/blocks_old_{uuid.uuid4().hex[:8]}"
        os.rename(bd, old)
        os.rename(tmp, bd)
        shutil.rmtree(old, ignore_errors=True)
        # compaction is a REWRITE: compacted part files are gone, so time
        # travel reaches back only to this new snapshot for the merged
        # rows; untouched parts keep their original snapshot lineage.  The
        # manifest is rebuilt as ONE merged segment — block compaction is
        # inherently O(table), so a full manifest rewrite costs nothing
        # extra here (the per-batch commit path stays O(batch) append-only)
        all_files = sorted(f for f in os.listdir(bd) if f.endswith(".parquet"))
        man_rows = M.manifest_rows_for_new_files(bd, all_files, tx.snapshot)
        for r in man_rows:
            r["snapshot"] = prev_snap.get(r["part_id"], tx.snapshot)
        tx.publish(man_rows, rewrite=True)
    return {
        "before": before,
        "after": sum(int(r["n_blocks"]) for r in man_rows),
        "compacted": n_small,
        "rows_moved": int(rows_moved),
    }
