"""Distributed decode job: block + dictionary tables → transcripts DataFrame.

The Spark analog of ``deserialize_stream_to_record_batches``
(/root/reference/src/deserialize.cpp:406-537): dictionaries are loaded
first (DictionaryBatch before RecordBatch ordering), broadcast to every
task (the decode-side dictionary_cache, /root/reference/src/
dictionary_cache.cpp:114-172), then every block decodes independently in
``mapInArrow`` — embarrassingly parallel, no shuffle at all; ordering is
restored lazily by the consumer (``orderBy(conv_id, turn_idx)``) only when
a globally sorted view is required.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparrow_ipc_spark.operators import blocks
from sparrow_ipc_spark.schema import BLOCK_SCHEMA, TRANSCRIPTS_SCHEMA
from sparrow_ipc_spark.sources import manifest as M


def load_dict_values(dict_rows: list[dict]) -> dict[int, pa.Array]:
    """dict_id → values array (decode-side dictionary cache).

    Delta dictionaries merge by version order — values of later versions
    append after earlier ones, exactly the reference's typed concatenation
    (/root/reference/src/dictionary_cache.cpp:20-111)."""
    by_id: dict[int, list[dict]] = {}
    for r in dict_rows:
        by_id.setdefault(int(r["dict_id"]), []).append(r)
    out: dict[int, pa.Array] = {}
    for did, rows in by_id.items():
        rows.sort(key=lambda r: int(r.get("version", 0)))
        parts = []
        for r in rows:
            n = int(r["n_values"])
            offs = np.frombuffer(r["values_offsets"], dtype=np.int32)
            data = r["values_data"] or b""
            parts.append(
                pa.Array.from_buffers(
                    pa.string(), n,
                    [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(bytes(data))], 0,
                )
            )
        out[did] = pa.concat_arrays(parts) if len(parts) > 1 else parts[0]
    return out


def prune_blocks(
    blocks_df: DataFrame,
    conv_id: str | None = None,
    conv_range: tuple[str, str] | None = None,
    ts_range_us: tuple[int, int] | None = None,
) -> DataFrame:
    """Zone-map block pruning — the random-access analog of the IPC file
    Footer (/root/reference/src/deserialize.cpp:544-591 reads only the
    blocks the footer points at).  Predicates on the top-level zone-map
    columns push down to the parquet scan (row-group / file skipping), so
    a single-conversation decode touches only its blocks' bytes."""
    from pyspark.sql import functions as F

    out = blocks_df
    if conv_id is not None:
        out = out.where((F.col("conv_min") <= conv_id) & (F.col("conv_max") >= conv_id))
    if conv_range is not None:
        lo, hi = conv_range
        out = out.where((F.col("conv_max") >= lo) & (F.col("conv_min") <= hi))
    if ts_range_us is not None:
        lo, hi = ts_range_us
        out = out.where((F.col("ts_max_us") >= lo) & (F.col("ts_min_us") <= hi))
    return out


def prune_blocks_col(blocks_df: DataFrame, col: str,
                     lo=None, hi=None) -> DataFrame:
    """Generic per-column zone-map pruning: keep blocks whose stored
    [zmin, zmax] for ``col`` overlaps [lo, hi] (None = open bound).

    Works for any orderable column — the stat field is picked by the bound
    type (int/float/str); blocks with null stats survive (conservative).
    The predicate is a JVM-side ``exists`` over the small ``columns``
    metadata array, so the multi-MB bodies of pruned blocks are never
    decompressed or decoded."""
    from pyspark.sql import functions as F

    probe = lo if lo is not None else hi
    if probe is None:
        return blocks_df
    if isinstance(probe, str):
        fmin, fmax = "zmin_str", "zmax_str"
    elif isinstance(probe, float):
        fmin, fmax = "zmin_num", "zmax_num"
    else:
        fmin, fmax = "zmin_int", "zmax_int"

    def overlap(c):
        cond = c["name"] == F.lit(col)
        stats_null = c[fmin].isNull() | c[fmax].isNull()
        rng = F.lit(True)
        if lo is not None:
            rng = rng & (c[fmax] >= F.lit(lo))
        if hi is not None:
            rng = rng & (c[fmin] <= F.lit(hi))
        return cond & (stats_null | rng)

    return blocks_df.where(F.exists("columns", overlap))


def _subset_schema(schema, columns):
    import pyspark.sql.types as T

    if columns is None:
        return schema
    by_name = {f.name: f for f in schema.fields}
    return T.StructType([by_name[c] for c in columns])


def decode_blocks(
    spark: SparkSession,
    blocks_df: DataFrame,
    dict_rows: list[dict],
    schema=TRANSCRIPTS_SCHEMA,
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode blocks → rows.  ``columns`` prunes both the decode work and
    the output schema (untouched buffers are never decompressed)."""
    bc = spark.sparkContext.broadcast(
        [
            {k: r.get(k, 0) if k == "version" else r[k]
             for k in ("dict_id", "version", "n_values", "values_offsets", "values_data")}
            for r in dict_rows
        ]
    )
    out_schema = _subset_schema(schema, columns)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_out = to_arrow_schema(out_schema)

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # pure-Arrow decode: block rows in, decoded record batches out
        ctx = {"dict_values": load_dict_values(bc.value)}
        for batch in batches:
            names = batch.schema.names
            meta_cols = [n for n in names if n != "body"]
            body_col = batch.column("body") if "body" in names else None
            for i in range(batch.num_rows):
                # metadata fields are tiny; the multi-MB body is handed over
                # as a zero-copy Arrow buffer view instead of a Python bytes
                # copy (decode_block slices only the framed spans it needs)
                row = {n: batch.column(n)[i].as_py() for n in meta_cols}
                if body_col is not None:
                    row["body"] = memoryview(body_col[i].as_buffer())
                tbl = blocks.decode_block(row, ctx, columns=columns)
                tbl = tbl.cast(arrow_out)
                yield from tbl.to_batches()

    return blocks_df.mapInArrow(decode_fn, schema=out_schema)


def dedupe_blocks(blocks_df: DataFrame) -> DataFrame:
    """Crash-idempotence for a block table whose files the manifest does
    NOT map one-to-one (``manifest.committed_block_files`` is None): a
    resume that died between the block append and the manifest commit, a
    replayed micro-batch's leftovers, legacy rows without ``file``, or a
    hand-rewritten dir.  Blocks are a deterministic function of content,
    so duplicates are BYTE-IDENTICAL — the key includes body_crc32, which
    keeps the streaming foreachBatch layout intact (micro-batches
    legitimately reuse (part_id, batch_seq) with different content).
    Detection is one Spark job on the cheap metadata columns; the
    body-shuffling window runs only when duplicates are actually found."""
    from pyspark.sql import Window

    keys = ("part_id", "batch_seq", "body_crc32", "n_rows")
    chk = blocks_df.agg(
        F.count(F.lit(1)).alias("n"),
        # distinct over a STRUCT, not a column tuple: COUNT(DISTINCT a,b,c)
        # drops tuples with any NULL field, so a NULL body_crc32 (nullable
        # in BLOCK_SCHEMA) would spuriously flag duplicates
        F.count_distinct(F.struct(*keys)).alias("d"),
    ).first()
    if int(chk["n"] or 0) == int(chk["d"] or 0):
        return blocks_df
    w = Window.partitionBy(*keys).orderBy(F.lit(1))
    return (blocks_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-snapshot lineage summary (the Iceberg snapshot-log analog):
    which write committed which partitions, with row/byte totals."""
    from pyspark.sql import functions as F

    man = spark.read.parquet(f"{out_dir}/manifest")
    if "file" in man.columns:
        # the segment log's crash contract (manifest.py): readers dedupe
        # (part_id, file) keeping the highest snapshot — a crash between
        # segment-merge and old-segment deletion leaves duplicate rows
        # that would double-count n_rows/enc_bytes here
        from pyspark.sql import Window

        w = Window.partitionBy("part_id", "file").orderBy(F.desc("snapshot"))
        man = man.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1).drop("_rn")
    return (
        man
        .groupBy("snapshot")
        .agg(
            # manifest rows are per (part, file); a part can span files
            F.count_distinct("part_id").alias("n_parts"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.collect_set("part_id").alias("part_ids"),
        )
        .orderBy("snapshot")
    )


def decode_dir(
    spark: SparkSession,
    out_dir: str,
    schema=None,
    columns: list[str] | None = None,
    conv_id: str | None = None,
    ts_range_us: tuple[int, int] | None = None,
    snapshot: int | None = None,
) -> DataFrame:
    """``snapshot=K`` time-travels: only partitions committed by write jobs
    ≤ K are decoded (append-mode writes never rewrite committed parts, so
    the result is exactly the table as of that write; compaction rewrites
    and therefore resets history for the parts it merges).

    ``schema=None`` resolves from the directory's ``_schema.json`` sidecar
    when present — restoring per-field custom key/value metadata and exact
    nullability (the reference's custom_metadata contract) — else falls
    back to the transcript schema.

    Duplicate blocks left by a crash are collapsed by :func:`dedupe_blocks`
    only when the committed manifest does not map the on-disk block files
    one-to-one (``manifest.committed_block_files``); a healthy table skips
    that check and plans with zero Spark jobs."""
    if schema is None:
        from sparrow_ipc_spark.operators.encode_job import load_schema_sidecar

        schema = load_schema_sidecar(out_dir) or TRANSCRIPTS_SCHEMA
    # planning runs NO Spark job on a healthy table: the block schema is
    # the package's own, and dictionaries, time-travel part ids and the
    # duplicate-check condition are small driver-side metadata reads —
    # the one job is the decode itself
    blocks_df = spark.read.schema(BLOCK_SCHEMA).parquet(f"{out_dir}/blocks")
    if snapshot is not None:
        import pyarrow.compute as pc

        man = M.read_manifest_table(out_dir, ["part_id", "snapshot"])
        # legacy rows predate the snapshot column: they are snapshot 0
        live = pc.less_equal(pc.fill_null(man.column("snapshot"), 0),
                             int(snapshot))
        ids = sorted(set(pc.filter(man.column("part_id"), live).to_pylist()))
        blocks_df = blocks_df.where(blocks_df["part_id"].isin(ids))
    if M.committed_block_files(out_dir) is None:
        blocks_df = dedupe_blocks(blocks_df)
    blocks_df = prune_blocks(blocks_df, conv_id=conv_id, ts_range_us=ts_range_us)
    dict_rows = M.read_dict_rows(out_dir)
    # an exact conv_id filter needs the conv_id COLUMN for row-level
    # re-evaluation (zone maps prune only at block granularity): decode it
    # internally when the caller's projection excludes it, then drop it
    extra_conv = (conv_id is not None and columns is not None
                  and "conv_id" not in columns)
    dec_columns = (columns + ["conv_id"]) if extra_conv else columns
    df = decode_blocks(spark, blocks_df, dict_rows, schema, columns=dec_columns)
    if conv_id is not None:
        df = df.where(df["conv_id"] == conv_id)
        if extra_conv:
            df = df.drop("conv_id")
    return df
