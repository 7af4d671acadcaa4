"""Incremental (streaming) encode: Structured Streaming → encoded blocks.

The analog of the reference's stateful streaming serializer
(include/sparrow_ipc/serializer.hpp:36-263): schema fixed up front,
dictionaries emitted before the data batches that reference them, new
dictionary values arriving mid-stream emitted as DELTA dictionary batches
(Message.fbs:129-131 ``isDelta``; merge semantics
/root/reference/src/dictionary_cache.cpp:20-111), then per-micro-batch
record batches appended to the block table.

Driver-side dictionary state (known values + next version per column) is
the dictionary_tracker analog (/root/reference/src/dictionary_tracker.cpp:
233-307): values are assigned codes exactly once, in first-seen-sorted
order, and never re-emitted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparrow_ipc_spark.operators.encode_job import (
    DEFAULT_DICT_COLS,
    DICT_MAX_GLOBAL_DISTINCT,
    dict_id_for,
    dict_row_for_values,
    encode_transcripts,
)


class StreamingEncoder:
    """foreachBatch sink: incremental encode with delta dictionaries."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 dict_cols=DEFAULT_DICT_COLS, n_parts: int | None = None):
        from sparrow_ipc_spark.sources.manifest import require_local_dir

        self.spark = spark
        self.out_dir = out_dir = require_local_dir(out_dir)
        self.dict_cols = tuple(dict_cols)
        self.n_parts = n_parts
        # dictionary_tracker state: col → ordered known values (+ set)
        self._values: dict[str, list] = {c: [] for c in self.dict_cols}
        self._known: dict[str, set] = {c: set() for c in self.dict_cols}
        # columns demoted to block-local dictionaries after blowing the
        # cardinality ceiling — never re-promoted (their codes would be
        # incomplete), never driven through collect_set again
        self._demoted: set[str] = set()
        self._version = 0
        # RESTART RECOVERY: rebuild tracker state from committed dictionary
        # rows.  A fresh tracker after a stream restart would re-emit
        # version-0 rows for the same dict_id and assign codes that collide
        # with the committed assignment — decode merges rows by version, so
        # post-restart blocks would silently decode to WRONG values.
        from sparrow_ipc_spark.operators.encode_job import payload_from_dict_rows
        from sparrow_ipc_spark.sources.manifest import read_dict_rows

        rows = read_dict_rows(out_dir)
        if rows:
            committed = payload_from_dict_rows(rows)
            for c, entry in committed.items():
                if c in self._values:
                    self._values[c] = list(entry["values"])
                    self._known[c] = set(entry["values"])
            self._version = max(int(r.get("version", 0) or 0) for r in rows) + 1

    def _update_dictionaries(self, df: DataFrame) -> list[dict]:
        """Emit-once protocol: detect new values, emit one delta row per
        column with additions; codes extend the existing assignment.

        Cardinality-gated like the batch path (encode_job.py
        ``build_global_dicts``): a cheap ``approx_count_distinct`` runs
        before any ``collect_set``, so a mis-listed high-cardinality column
        demotes to block-local dictionaries instead of pulling an unbounded
        distinct set into the driver every micro-batch — the 10^12-row
        driver-OOM shape."""
        cols = [c for c in self.dict_cols if c not in self._demoted]
        if not cols:
            return []
        approx = df.agg(
            *[F.approx_count_distinct(F.col(c)).alias(c) for c in cols]
        ).collect()[0]
        eligible = []
        for c in cols:
            # gate the BATCH's sketch only (same 2× headroom as the batch
            # path, encode_job.build_global_dicts: approx ≤ 2·ceiling
            # absorbs HLL sketch error): it bounds the collect_set the
            # driver is about to pull; union growth past the ceiling is
            # caught exactly after the collect below.  Counting known
            # values here would demote stable vocabularies that merely
            # re-observe themselves.
            if int(approx[c] or 0) > 2 * DICT_MAX_GLOBAL_DISTINCT:
                self._demoted.add(c)
            else:
                eligible.append(c)
        if not eligible:
            return []
        agg = df.agg(*[F.collect_set(F.col(c)).alias(c) for c in eligible]).collect()[0]
        rows = []
        for c in eligible:
            fresh = sorted(v for v in agg[c] if v is not None and v not in self._known[c])
            if not fresh:
                continue
            if len(self._values[c]) + len(fresh) > DICT_MAX_GLOBAL_DISTINCT:
                self._demoted.add(c)  # sketch under-estimated: still degrade
                continue
            is_delta = self._version > 0 or bool(self._values[c])
            rows.append(dict_row_for_values(c, fresh, version=self._version, is_delta=is_delta))
            self._values[c].extend(fresh)
            self._known[c].update(fresh)
        if rows:
            self._version += 1
        return rows

    def payload(self) -> dict:
        # excluded from the payload: columns with no emitted values (blocks
        # must never reference a dict_id with no dictionary rows) AND
        # demoted columns — a demoted column's frozen global dict would
        # otherwise shadow the selector's dict_local candidate and force
        # every block containing an unseen value down to raw/fsst, exactly
        # on the high-cardinality columns demotion exists for.  Old blocks
        # that referenced the global dict before demotion still decode
        # against the committed dictionary rows.
        return {
            c: {"dict_id": dict_id_for(c), "values": list(self._values[c])}
            for c in self.dict_cols
            if self._values[c] and c not in self._demoted
        }

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        """Commit one micro-batch through the table's commit transaction.

        Part ids are offset past the committed table so micro-batches never
        collide — without this, snapshot time travel over a streamed dir
        would resolve a part id to EVERY batch's rows.  REPLAY STABILITY: a
        foreachBatch replay (a crash anywhere in this commit, before the
        checkpoint recorded the batch) reuses the part offset and snapshot
        its deterministic segment recorded, and lands its block files under
        the batch's deterministic names — the replay overwrites the crashed
        attempt's files instead of adding a second copy of every row."""
        from sparrow_ipc_spark.sources import manifest as M

        tag = f"fb-{batch_id:08d}"
        with M.CommitTransaction(self.out_dir, seg_name=f"seg-{tag}.parquet") as tx:
            # dictionaries land before the blocks that reference them
            tx.write_dictionaries(self._update_dictionaries(df))
            blocks_df, _, _ = encode_transcripts(
                self.spark, df, n_parts=self.n_parts, dict_cols=self.dict_cols,
                dict_payload=self.payload(), part_offset=tx.part_offset,
            )
            staging = os.path.join(self.out_dir, f"_staging_{tag}")
            (blocks_df.write.mode("overwrite").option("compression", "snappy")  # bodies pre-zstd'd
             .parquet(staging))
            # Spark names its part files by partition index: sorted, they
            # are a deterministic order for the batch-tagged names
            staged = sorted(f for f in os.listdir(staging)
                            if f.endswith(".parquet") and not f.startswith((".", "_")))
            bd = os.path.join(self.out_dir, "blocks")
            man_rows = M.manifest_rows_for_new_files(
                bd, tx.land(staging, staged, tag=tag), tx.snapshot)
            for r in man_rows:
                # the replay-stable offset must be recorded EXPLICITLY:
                # min(part_id) under-reports it when the lowest hash
                # partition of this batch encoded zero rows
                r["part_offset"] = tx.part_offset
            tx.publish(man_rows, schema=df.schema)


def encode_stream(spark: SparkSession, stream_df: DataFrame, out_dir: str,
                  checkpoint_dir: str, dict_cols=DEFAULT_DICT_COLS,
                  trigger_once: bool = False):
    """Attach the streaming encoder to a streaming transcripts DataFrame."""
    enc = StreamingEncoder(spark, out_dir, dict_cols)
    writer = stream_df.writeStream.foreachBatch(enc.process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start(), enc
