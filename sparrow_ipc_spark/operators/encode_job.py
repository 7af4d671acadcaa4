"""Distributed encode job: transcripts DataFrame → dictionary + block tables.

Spark lifecycle (the reimagination of the reference's streaming serializer,
include/sparrow_ipc/serializer.hpp:36-263):

1. salted hash partitioning on conv_id — hot conversations are split by
   turn ranges (``salt = turn_idx // salt_span``) so one 10^6-turn
   conversation spreads over many partitions while each block still holds
   contiguous sorted turns (north_rule skew clause);
2. ``sortWithinPartitions(conv_id, turn_idx)`` — the stable-order contract
   ("same batch order in = same bytes out");
3. dictionary-build stage: global distinct per low-cardinality column →
   dictionary table + broadcast (emit-once, before any data block —
   /root/reference/src/dictionary_tracker.cpp:284-298);
4. ``mapInPandas`` encode — one block row per Arrow batch
   (spark.sql.execution.arrow.maxRecordsPerBatch = batch granularity);
5. manifest aggregation per part_id (the IPC file Footer analog,
   /root/reference/src/stream_file_serializer.cpp:34-129) → resumable
   re-runs skip completed partitions.

No per-row Python anywhere: partitioning/sorting are JVM-side, encode is
vectorized numpy/pyarrow over Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparrow_ipc_spark.codecs.dictionary import dict_id_for
from sparrow_ipc_spark.operators import blocks
from sparrow_ipc_spark.schema import BLOCK_SCHEMA, DICTIONARY_SCHEMA
from sparrow_ipc_spark.sources import manifest as M
from sparrow_ipc_spark.sources.manifest import require_local_dir  # noqa: F401 (re-exported)

DEFAULT_DICT_COLS = ("role", "tool")
DEFAULT_SALT_SPAN = 100_000  # turns per salt bucket within one conversation

TRANSCRIPT_FIELDS = [
    ("conv_id", "string"),
    ("turn_idx", "int32"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp[us]"),
]

# Spark SQL type → engine logical type (the format-string switch analog,
# /root/reference/src/flatbuffer_utils.cpp:86-447).  Container types recurse.
_SPARK_TO_LOGICAL = {
    "string": "string",
    "binary": "binary",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "boolean": "bool",
    "date": "date32[day]",
    "timestamp": "timestamp[us]",
    "timestamp_ntz": "timestamp[us]",
}

# _SPARK_TO_LOGICAL emits float32/float64; the pa-side names are float/double
_PA_NAME = {"float32": "float", "float64": "double"}


def _logical_of_spark(dt) -> str:
    import pyspark.sql.types as T

    s = dt.simpleString()
    if s in _SPARK_TO_LOGICAL:
        return _SPARK_TO_LOGICAL[s]
    if isinstance(dt, T.ArrayType):
        child = _logical_of_spark(dt.elementType)
        return f"list<{_PA_NAME.get(child, child)}>"
    if isinstance(dt, T.MapType):
        k = _logical_of_spark(dt.keyType)
        v = _logical_of_spark(dt.valueType)
        return f"map<{_PA_NAME.get(k, k)}, {_PA_NAME.get(v, v)}>"
    if isinstance(dt, T.DayTimeIntervalType):
        # Spark's own Arrow conversion maps every day-time interval to
        # duration[us]; YearMonthIntervalType is rejected by Spark's Arrow
        # path entirely (UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION) — N/A.
        return "duration[us]"
    if isinstance(dt, T.DecimalType):
        return f"decimal128({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        from sparrow_ipc_spark.codecs.base import _check_struct_field_name

        if not dt.fields:
            raise ValueError("empty struct types are not encodable")
        for c in dt.fields:
            _check_struct_field_name(c.name)
        inner = ", ".join(f"{c.name}: {_logical_of_spark(c.dataType)}" for c in dt.fields)
        return f"struct<{inner}>"
    raise ValueError(f"unsupported column type for encode: {s}")


def fields_of_struct(schema) -> list[tuple[str, str]]:
    """(name, logical_type) per StructField; raises on unsupported types
    and on duplicate field names (block columns are keyed by name — a
    silent second-wins collision would corrupt data; the designed error
    matches the hazard the reference's ``duplicate_fieldnames`` golden
    fixture probes, tests/test_de_serialization_with_files.cpp:26-641)."""
    names = [f.name for f in schema.fields]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(f"duplicate field names not supported by encode: {dupes}")
    return [(f.name, _logical_of_spark(f.dataType)) for f in schema.fields]


def infer_fields(df: DataFrame) -> list[tuple[str, str]]:
    """(name, logical_type) per column; raises on unsupported types."""
    return fields_of_struct(df.schema)


def spark_schema_for(fields: list[tuple[str, str]]):
    """Inverse mapping for decode output schemas."""
    import pyspark.sql.types as T

    inv = {
        "string": T.StringType(), "binary": T.BinaryType(), "int8": T.ByteType(),
        "int16": T.ShortType(), "int32": T.IntegerType(), "int64": T.LongType(),
        "float": T.FloatType(), "float32": T.FloatType(),
        "double": T.DoubleType(), "float64": T.DoubleType(), "bool": T.BooleanType(),
        "date32[day]": T.DateType(), "timestamp[us]": T.TimestampType(),
        "duration[us]": T.DayTimeIntervalType(),
    }

    def spark_type_of(logical: str):
        from sparrow_ipc_spark.codecs.base import split_top_level

        if logical in inv:
            return inv[logical]
        if logical.startswith("list<") and logical.endswith(">"):
            return T.ArrayType(spark_type_of(logical[5:-1]))
        if logical.startswith("map<") and logical.endswith(">"):
            kt, vt = split_top_level(logical[4:-1])
            return T.MapType(spark_type_of(kt), spark_type_of(vt))
        if logical.startswith("decimal128("):
            p, sc = [int(x) for x in logical[11:-1].split(",")]
            return T.DecimalType(p, sc)
        if logical.startswith("struct<"):
            subs = []
            for part in split_top_level(logical[7:-1]):
                nm, tp = part.split(": ", 1)
                subs.append(T.StructField(nm, spark_type_of(tp), True))
            return T.StructType(subs)
        raise ValueError(f"no spark type for {logical}")

    return T.StructType([T.StructField(n, spark_type_of(t), True) for n, t in fields])


# hard ceiling on global-dictionary cardinality: above this the distinct
# set never reaches the driver and the column falls back to block-local
# dictionaries (dict_local) / the selector's other codecs.  At 10^12 rows a
# mis-listed high-cardinality column must degrade, not OOM the driver.
DICT_MAX_GLOBAL_DISTINCT = 65_536


def build_global_dicts(
    df: DataFrame, cols=DEFAULT_DICT_COLS,
    max_distinct: int = DICT_MAX_GLOBAL_DISTINCT,
) -> tuple[list[dict], dict]:
    """Distinct-build stage → (dictionary table rows, broadcastable payload).

    Catalyst runs partial+final HashAggregate for distinct automatically —
    the map-side combine keeps the shuffle tiny for low-cardinality columns.
    Codes are assigned by sorted value order: deterministic across retries
    and cluster sizes.  A cheap ``approx_count_distinct`` pass gates the
    ``collect_set`` (±5% sketch error padded by 2×), so an unexpectedly
    high-cardinality column can never pull its distinct set into the driver.
    """
    rows: list[dict] = []
    payload: dict = {}
    if not cols:
        return rows, payload
    approx = df.agg(
        *[F.approx_count_distinct(F.col(c)).alias(c) for c in cols]
    ).collect()[0]
    eligible = [c for c in cols if int(approx[c] or 0) <= 2 * max_distinct]
    if not eligible:
        return rows, payload
    # ONE job for all dictionary columns: map-side partial collect_set keeps
    # the shuffle tiny; codes assigned by sorted value order in the driver.
    agg_row = df.agg(
        *[F.collect_set(F.col(c)).alias(c) for c in eligible]
    ).collect()[0]
    for col in eligible:
        vals = sorted(v for v in agg_row[col] if v is not None)
        if len(vals) > max_distinct:  # sketch under-estimated: still degrade
            continue
        rows.append(dict_row_for_values(col, vals, version=0, is_delta=False))
        payload[col] = {"dict_id": dict_id_for(col), "values": vals}
    return rows, payload


def _dict_values_of(version_sorted_rows: list[dict]) -> list[str]:
    """Concatenate a column's dictionary values across versions (code order)."""
    out: list[str] = []
    for r in version_sorted_rows:
        n = int(r["n_values"])
        offs = np.frombuffer(bytes(r["values_offsets"]), dtype=np.int32, count=n + 1)
        data = bytes(r["values_data"] or b"")
        arr = pa.Array.from_buffers(
            pa.string(), n,
            [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)], 0,
        )
        out.extend(arr.to_pylist())
    return out


def payload_from_dict_rows(prev_rows: list[dict]) -> dict:
    """Rebuild the broadcastable encode payload from committed dictionary
    rows — code assignment preserved exactly (merge-by-version order)."""
    by_col: dict[str, list[dict]] = {}
    for r in prev_rows:
        by_col.setdefault(str(r["col_name"]), []).append(r)
    return {
        c: {
            "dict_id": dict_id_for(c),
            "values": _dict_values_of(
                sorted(rows, key=lambda r: int(r.get("version", 0) or 0))
            ),
        }
        for c, rows in by_col.items()
    }


def delta_dictionaries(
    spark: SparkSession, df: DataFrame, prev_rows: list[dict],
    cols=DEFAULT_DICT_COLS,
) -> tuple[list[dict], dict]:
    """Delta-append against committed dictionaries: values not yet emitted
    become one is_delta row per column at version = prev_max + 1; the encode
    payload extends the existing code assignment (known order, then fresh
    sorted) so previously-written blocks keep decoding against the merge
    (/root/reference/src/dictionary_cache.cpp:20-111 merge-by-version)."""
    by_col: dict[str, list[dict]] = {}
    for r in prev_rows:
        by_col.setdefault(str(r["col_name"]), []).append(r)
    rows: list[dict] = []
    payload: dict = {}
    cols = [c for c in cols if c in by_col]
    if not cols:
        return rows, payload
    # cardinality gate, same as build_global_dicts / the streaming tracker:
    # an append whose data drifted to high cardinality must degrade to
    # block-local dicts for its new values, never pull an unbounded
    # distinct set into the driver
    approx = df.agg(
        *[F.approx_count_distinct(F.col(c)).alias(c) for c in cols]
    ).collect()[0]
    eligible = [c for c in cols
                if int(approx[c] or 0) <= 2 * DICT_MAX_GLOBAL_DISTINCT]
    agg_row = (df.agg(*[F.collect_set(F.col(c)).alias(c) for c in eligible])
               .collect()[0] if eligible else {})
    for c in cols:
        prev_sorted = sorted(by_col[c], key=lambda r: int(r.get("version", 0) or 0))
        known = _dict_values_of(prev_sorted)
        payload[c] = {"dict_id": dict_id_for(c), "values": known}
        if c not in eligible:
            continue  # known codes stay usable; new values go block-local
        kset = set(known)
        fresh = sorted(v for v in agg_row[c] if v is not None and v not in kset)
        if len(known) + len(fresh) > DICT_MAX_GLOBAL_DISTINCT:
            continue  # ceiling: degrade instead of unbounded dict growth
        if fresh:
            version = int(prev_sorted[-1].get("version", 0) or 0) + 1
            rows.append(dict_row_for_values(c, fresh, version=version, is_delta=True))
        payload[c] = {"dict_id": dict_id_for(c), "values": known + fresh}
    return rows, payload


def dict_row_for_values(col: str, vals: list[str], version: int, is_delta: bool) -> dict:
    """Serialize one dictionary (or delta) batch row from a values list."""
    arr = pa.array(vals, type=pa.string())
    offs = (
        np.frombuffer(arr.buffers()[1], dtype=np.int32, count=len(arr) + 1)
        if len(arr) else np.zeros(1, np.int32)
    )
    data = (arr.buffers()[2].slice(0, int(offs[-1])).to_pybytes()
            if len(arr) and arr.buffers()[2] else b"")
    return {
        "dict_id": dict_id_for(col),
        "col_name": col,
        "is_delta": is_delta,
        "version": version,
        "n_values": len(arr),
        "values_offsets": offs.tobytes(),
        "values_data": data,
    }


def write_dict_rows(out_dir: str, rows: list[dict]) -> None:
    """Driver-side parquet write of dictionary rows as one new file under
    ``dictionaries/`` (committed files are never rewritten; an overwrite
    clears the directory in its commit transaction first).

    Dictionary rows are ALWAYS a bounded driver-side list (the
    cardinality gate guarantees it), so a Spark job to persist them paid
    ~0.4 s of pure job scheduling per encode commit.  The arrow schema is
    derived from DICTIONARY_SCHEMA, so files written here mix cleanly in
    one directory with any Spark-written history (same logical parquet
    schema); an empty table still writes one schema-bearing file so
    ``spark.read.parquet`` on a fresh dir keeps working."""
    import os as _os
    import uuid as _uuid

    import pyarrow.parquet as _pq
    from pyspark.sql.pandas.types import to_arrow_schema

    dict_dir = _os.path.join(out_dir, "dictionaries")
    _os.makedirs(dict_dir, exist_ok=True)
    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(DICTIONARY_SCHEMA))
    _pq.write_table(
        tbl, _os.path.join(dict_dir, f"part-{_uuid.uuid4().hex}.parquet"),
        compression="zstd")


def with_partition_key(df: DataFrame, salt_span: int = DEFAULT_SALT_SPAN,
                       key_col: str = "conv_id", order_col: str | None = "turn_idx") -> DataFrame:
    """Salted partition key: hot cluster keys split by order-column range
    (no order column → no salting, the key alone partitions)."""
    salt = ((F.col(order_col) / F.lit(salt_span)).cast("int")
            if order_col else F.lit(0))
    return df.withColumn("_salt", salt)


def encode_transcripts(
    spark: SparkSession,
    df: DataFrame,
    n_parts: int | None = None,
    dict_cols=DEFAULT_DICT_COLS,
    salt_span: int = DEFAULT_SALT_SPAN,
    skip_part_ids: set[int] | None = None,
    clustered: bool = False,
    dict_payload: dict | None = None,
    fields: list[tuple[str, str]] | None = None,
    part_offset: int = 0,
    cluster_by: str = "conv_id",
    order_by: str | None = "turn_idx",
) -> tuple[DataFrame, list[dict], dict]:
    """Returns (blocks_df, dictionary_rows, dict_payload).

    blocks_df is lazy; write it with ``.write.parquet`` (Iceberg in prod).

    ``clustered=True`` declares that the input is already clustered by
    (conv_id, turn_idx) — each conversation contiguous and turn-sorted
    within a scan partition (the common case for an Iceberg transcript
    table written conv-at-a-time).  The encode then maps directly over
    scan partitions with NO shuffle and NO sort: at 100 TB, re-clustering
    already-clustered input would be the single biggest wasted cost, and
    locally it is the only stage that does not scale with cores (disk-
    bound exchange).  Use ``clustered=False`` (default) for arbitrary
    input layouts.
    """
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    if dict_payload is not None:
        dict_rows, payload = [], dict_payload
    else:
        dict_rows, payload = build_global_dicts(df, dict_cols) if dict_cols else ([], {})
    bc = spark.sparkContext.broadcast(payload)

    if clustered:
        parted = df
        if skip_part_ids:
            raise ValueError("resume requires the hash-partitioned path (clustered=False)")
    else:
        if cluster_by not in df.columns:
            raise ValueError(f"cluster_by column {cluster_by!r} not in input")
        order_by = order_by if (order_by and order_by in df.columns) else None
        keyed = with_partition_key(df, salt_span, key_col=cluster_by, order_col=order_by)
        if skip_part_ids:
            # replicate HashPartitioning's row→partition map (murmur3, pmod)
            # to prune completed partitions at the scan — resumability
            # without re-encoding (manifest analog:
            # stream_file_serializer.cpp:77-129)
            part_expr = F.pmod(F.hash(cluster_by, "_salt"), F.lit(n_parts))
            keyed = keyed.where(~part_expr.isin(*[int(p) for p in skip_part_ids]))
        sort_cols = [cluster_by] + ([order_by] if order_by else [])
        parted = (
            keyed.repartition(n_parts, cluster_by, "_salt")
            .sortWithinPartitions(*sort_cols)
            .drop("_salt")
        )

    fields = fields or (
        TRANSCRIPT_FIELDS if set(df.columns) == {n for n, _ in TRANSCRIPT_FIELDS}
        else infer_fields(df)
    )

    from sparrow_ipc_spark.schema import arrow_block_schema

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # pure-Arrow encode: no pandas object materialization on either side
        tc = TaskContext.get()
        part_id = part_offset + (tc.partitionId() if tc is not None else 0)
        gdicts = {
            c: {"dict_id": e["dict_id"], "values": pa.array(e["values"], type=pa.string())}
            for c, e in bc.value.items()
        }
        ctx = {"global_dicts": gdicts}
        out_schema = arrow_block_schema()
        seq = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            row = blocks.encode_batch_arrow(batch, fields, ctx, part_id, seq)
            seq += 1
            yield pa.RecordBatch.from_pylist([row], schema=out_schema)

    blocks_df = parted.mapInArrow(encode_fn, schema=BLOCK_SCHEMA)
    return blocks_df, dict_rows, payload


def encode_generated(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    batch_rows: int = 65536,
    parallelism: int | None = None,
    dict_payload: dict | None = None,
) -> DataFrame:
    """Fused synthetic-source encode: generate conversations AND encode
    blocks inside one ``mapInPandas`` over ``spark.range(n_convs)``.

    This is the scale path for benchmarking the codec pipeline against the
    10^12-turn synthetic design point: no staging table, no JVM↔Python
    data movement beyond conv ids in and encoded blocks out — the job is
    pure vectorized Python compute and scales with cores like independent
    processes.  Output blocks are identical in schema/semantics to
    ``encode_transcripts`` (clustered path).
    """
    from sparrow_ipc_spark.schema import arrow_block_schema
    from sparrow_ipc_spark.sources import transcripts as T

    parallelism = parallelism or spark.sparkContext.defaultParallelism * 3
    payload = dict_payload or {}
    bc = spark.sparkContext.broadcast(payload)
    fields = TRANSCRIPT_FIELDS

    def gen_encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else 0
        gdicts = {
            c: {"dict_id": e["dict_id"], "values": pa.array(e["values"], type=pa.string())}
            for c, e in bc.value.items()
        }
        ctx = {"global_dicts": gdicts}
        gen = T.GenContext(seed)
        out_schema = arrow_block_schema()
        seq = 0
        pending: list[dict] = []  # per-conversation raw draws
        pending_rows = 0

        def flush():
            nonlocal seq, pending, pending_rows
            if not pending_rows:
                return None
            batch = T.assemble_arrow(pending, gen.tables, gen.tools)
            pending, pending_rows = [], 0
            row = blocks.encode_batch_arrow(batch, fields, ctx, part_id, seq)
            seq += 1
            return pa.RecordBatch.from_pylist([row], schema=out_schema)

        for ids in batches:
            for ci in ids.column("id").to_numpy():
                raw = gen.raw(int(ci))
                pending.append(raw)
                pending_rows += raw["n"]
                if pending_rows >= batch_rows:
                    out = flush()
                    if out is not None:
                        yield out
        out = flush()
        if out is not None:
            yield out

    base = spark.range(0, n_convs, numPartitions=min(parallelism, max(1, n_convs)))
    return base.mapInArrow(gen_encode, schema=BLOCK_SCHEMA)


def write_schema_sidecar(out_dir: str, schema) -> None:
    """Persist the FULL Spark schema (incl. per-field custom key/value
    metadata and nullability) as ``_schema.json`` — the Schema-message
    analog of the reference's end-to-end custom metadata
    (/root/reference/src/metadata.cpp:7-23, flatbuffer_utils.cpp:481-499;
    golden fixture ``custom_metadata``,
    tests/test_de_serialization_with_files.cpp:33-68).  The underscore
    prefix keeps it invisible to parquet dataset discovery."""
    import json as _json
    import os

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_schema.json"), "w") as f:
        f.write(_json.dumps(schema.jsonValue()))


def load_schema_sidecar(out_dir: str):
    """StructType from ``_schema.json`` (None when absent — pre-sidecar
    dirs decode against the caller-provided or inferred schema)."""
    import json as _json
    import os

    import pyspark.sql.types as T

    p = os.path.join(out_dir, "_schema.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return T.StructType.fromJson(_json.load(f))


def write_encoded(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_parts: int | None = None,
    dict_cols=DEFAULT_DICT_COLS,
    salt_span: int = DEFAULT_SALT_SPAN,
    resume: bool = False,
    append: bool = False,
    clustered: bool = False,
    cluster_by: str = "conv_id",
    order_by: str | None = "turn_idx",
) -> dict:
    """Full encode job with commit: blocks + dictionaries + manifest parquet.

    ``resume=True`` — crash-resume of the SAME input: part_ids already
    committed in the manifest are pruned at the scan, only missing
    partitions re-encode.

    ``append=True`` — NEW input rows for an existing directory: encoded
    into fresh part ids (offset past the committed ones), with dictionary
    growth emitted as is_delta rows so committed blocks and dictionaries
    are never rewritten (reference delta rules:
    /root/reference/src/dictionary_cache.cpp:20-111,
    dictionary_tracker.cpp:128-169).

    Either mode on a table without commits is a plain write.  The whole
    job runs inside one :class:`manifest.CommitTransaction`: part-id
    offsets and skip sets are derived from committed state under the
    table's commit lease, so concurrent writers serialize instead of
    minting colliding ids, and a job that loses an expired lease fails
    loudly BEFORE publishing."""
    import json as _json
    import os as _os

    skip: set[int] = set()
    part_offset = 0
    prev_committed_rows: list[dict] = []
    with M.CommitTransaction(out_dir, overwrite=None if (resume or append) else True) as tx:
        out_dir = tx.path
        if tx.overwrite:
            dict_rows, payload = build_global_dicts(df, dict_cols)
        else:
            # NO broad except here: a readable-manifest-but-broken-
            # dictionaries dir is corruption and must raise — swallowing it
            # used to fall back to append mode over a stale skip set and
            # silently duplicate every committed row
            prev_committed_rows = M.read_manifest_rows(out_dir)
            # crashed prior attempt's unmanifested block files: shared
            # guarded vacuum (see manifest.vacuum_orphan_blocks)
            M.vacuum_orphan_blocks(out_dir)
            if append:
                part_offset = tx.part_offset
            else:
                skip = {int(r["part_id"]) for r in prev_committed_rows}
                # the pruning expression replays pmod(hash(cluster_by,
                # salt), n_parts) — it MUST use the ORIGINAL run's n_parts
                # AND salt_span AND cluster/order keys, or committed-part
                # membership is recomputed against the wrong modulus/key
                # (silent row loss / duplication).  _job.json records all
                # of them; a recorded value always wins over the caller's
                # argument.
                job_p = _os.path.join(out_dir, "_job.json")
                if _os.path.isfile(job_p):
                    with open(job_p) as jf:
                        recorded = _json.load(jf)
                    if recorded.get("n_parts"):
                        n_parts = int(recorded["n_parts"])
                    if recorded.get("salt_span"):
                        salt_span = int(recorded["salt_span"])
                    if recorded.get("cluster_by"):
                        cluster_by = recorded["cluster_by"]
                    if "order_by" in recorded:
                        order_by = recorded["order_by"]
                elif n_parts is None:
                    raise ValueError(
                        "resume=True needs the original n_parts: no _job.json "
                        "sidecar found (pre-round-3 dir) and no n_parts given")
            # committed dictionaries are never rewritten: unseen values
            # append as delta rows and codes extend the existing
            # assignment, so already-written blocks' indices stay valid
            dict_rows, payload = delta_dictionaries(
                spark, df, M.read_dict_rows(out_dir), dict_cols)
        n_parts = n_parts or spark.sparkContext.defaultParallelism  # resolve once
        blocks_df, _, _ = encode_transcripts(
            spark, df, n_parts=n_parts, dict_cols=dict_cols, salt_span=salt_span,
            skip_part_ids=skip or None, clustered=clustered, dict_payload=payload,
            part_offset=part_offset, cluster_by=cluster_by, order_by=order_by,
        )
        tx.write_dictionaries(dict_rows)
        blocks_dir = _os.path.join(out_dir, "blocks")
        pre_files = set(_os.listdir(blocks_dir)) if _os.path.isdir(blocks_dir) else set()
        # block bodies are ALREADY zstd-compressed by the codec layer; the
        # session's parquet zstd would re-compress incompressible bytes on
        # every write AND decompress them on every read — snappy is a
        # near-passthrough for the body while still covering the small
        # metadata columns (measured on the bench encode lane)
        blocks_df.write.mode("append").option("compression", "snappy").parquet(blocks_dir)
        # O(batch) commit: manifest rows are derived from the NEWLY-written
        # block files only and published as ONE append-only manifest
        # segment — the committed history is never re-read or rewritten
        # (the reference's Footer is write-once, and manifest segments are
        # the multi-writer Iceberg analog of that).  Previously-committed
        # rows keep their original snapshot by living in older segments.
        new_files = sorted(
            f for f in _os.listdir(blocks_dir)
            if f.endswith(".parquet") and f not in pre_files
        )
        man_rows = M.manifest_rows_for_new_files(blocks_dir, new_files, tx.snapshot)
        tx.publish(man_rows, schema=df.schema)
        if not clustered:
            # resume pruning must replay pmod(hash, n_parts) with the
            # ORIGINAL modulus — record it (see the resume branch above)
            with open(_os.path.join(out_dir, "_job.json"), "w") as jf:
                _json.dump({"n_parts": int(n_parts), "salt_span": int(salt_span),
                            "cluster_by": cluster_by, "order_by": order_by}, jf)
    # totals cover the WHOLE committed table: new rows + the previously
    # committed rows (resume/append never rewrite those)
    tot = {k: sum(int(r[k]) for r in prev_committed_rows + man_rows)
           for k in ("n_blocks", "n_rows", "raw_bytes", "enc_bytes")}
    return {
        "blocks": tot["n_blocks"],
        "rows": tot["n_rows"],
        "raw_bytes": tot["raw_bytes"],
        "enc_bytes": tot["enc_bytes"],
        "skipped_parts": len(skip),
        "snapshot": tx.snapshot,
    }


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    dict_cols: tuple = (),
    cluster_by: str | None = None,
    order_by: str | None = None,
    n_parts: int | None = None,
) -> tuple[DataFrame, list[dict], dict]:
    """Encode ANY supported table (strings, ints, floats, timestamps,
    bools, containers, decimals, ...) into block rows — the general entry
    point for non-transcript tables (documents, embeddings, ...).

    Default is shuffle-free (maps over the input's existing partitioning).
    Pass ``cluster_by`` (and optionally ``order_by``) to route through the
    salted hash-partition path instead — co-locates each key's rows and
    sorts within partitions, maximizing run lengths for RLE/dict codecs on
    arbitrary tables (the transcript job's conv_id/turn_idx layout,
    generalized)."""
    return encode_transcripts(
        spark, df, dict_cols=dict_cols, clustered=cluster_by is None,
        fields=infer_fields(df), n_parts=n_parts,
        cluster_by=cluster_by or "conv_id", order_by=order_by,
    )
