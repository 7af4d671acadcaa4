"""Incremental (streaming) decode: new blocks appearing in the block table
are decoded as they arrive — the analog of the reference's incremental
``deserializer`` accumulating batches across chunks
(/root/reference/include/sparrow_ipc/deserializer.hpp:13-46).

Dictionaries are loaded once at stream start (base + any deltas committed
so far); blocks referencing later dictionary versions should be decoded
by a restarted stream (dictionary updates are rare — role/tool vocabulary
is near-static).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparrow_ipc_spark.operators.decode_job import decode_blocks
from sparrow_ipc_spark.schema import BLOCK_SCHEMA, TRANSCRIPTS_SCHEMA
from sparrow_ipc_spark.sources.manifest import read_dict_rows


def decode_stream(
    spark: SparkSession,
    out_dir: str,
    schema=TRANSCRIPTS_SCHEMA,
    columns: list[str] | None = None,
) -> DataFrame:
    """Streaming DataFrame of decoded rows from a (growing) block table."""
    dict_rows = read_dict_rows(out_dir)
    stream = spark.readStream.schema(BLOCK_SCHEMA).parquet(f"{out_dir}/blocks")
    return decode_blocks(spark, stream, dict_rows, schema=schema, columns=columns)
