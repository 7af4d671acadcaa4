"""Spark Python Data Source for encoded block directories.

``spark.read.format("sparrow_ipc").load(out_dir)`` — the idiomatic Spark
surface over the decode path (the user-facing analog of the reference's
``deserialize_stream`` entry point, /root/reference/src/deserialize.cpp:
406-537).  Features:

* schema inference from the committed block metadata (no user schema
  needed);
* input partitions span contiguous parquet row-group ranges (bounded
  tasks per file) — decode parallelism scales with data volume, not
  writer task count, and block rows stay Arrow end-to-end;
* **filter pushdown into the block zone maps** (Spark 4 `pushFilters`):
  comparison filters on any zone-mapped column skip whole blocks before
  their bodies are ever read or decompressed.  Pushdown is PARTIAL by
  design — zone maps prune at block granularity — so every filter is also
  returned to Spark for exact row-level re-evaluation.  Spark 4.1 REFUSES
  a reader that defines ``pushFilters`` when
  ``spark.sql.python.filterPushdown.enabled`` is false (the default), and
  the Python DS lifecycle runs in a session-less worker where the conf is
  unreadable — so pushdown is an explicit reader option:
  ``.option("pushdown", "true")``.  Without it the reader degrades to
  unpruned-but-correct reads on any foreign session.  Use
  :func:`read_encoded` from driver code: it inspects the live session conf
  and wires the option automatically;
* column pruning via ``.option("columns", "a,b")`` — unread columns'
  buffers are never decompressed (the Python DS API does not forward
  Spark's own column pruning, so it is surfaced as an option).

All four quadrants are covered: ``spark.read`` / ``spark.readStream``
(incremental decode of new block files from the checkpoint) and
``df.write`` / ``df.writeStream`` (staged per-task block files published
by commit-message manifest under snapshots; micro-batch commits publish
under deterministic batch-scoped names, with a batchId marker written
after the manifest — replays are idempotent, never duplicating rows).
Both writers commit through ``manifest.CommitTransaction``.

Registration: ``spark.dataSource.register(SparrowIPCDataSource)``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

# (lo, hi) bound updates per filter type: closed-interval zone-map query
_RANGE_FILTERS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


def _blocks_files(path: str) -> list[str]:
    d = os.path.join(path, "blocks")
    if not os.path.isdir(d):
        raise ValueError(f"not an encoded directory (no blocks/): {path}")
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _infer_fields(path: str) -> list[tuple[str, str]]:
    """(name, logical_type) from the first committed block's metadata."""
    import pyarrow.parquet as pq

    for f in _blocks_files(path):
        t = pq.read_table(f, columns=["columns"])
        if t.num_rows:
            cols = t.column("columns")[0].as_py()
            return [(c["name"], c["logical_type"]) for c in cols]
    raise ValueError(f"no committed blocks under {path}; cannot infer schema")


from sparrow_ipc_spark.sources.manifest import (
    CommitTransaction,
    committed_block_files,
    committed_state,
    manifest_file_map,
    manifest_row,
    new_files_between,
    read_cursor,
    read_dict_rows as _load_dict_rows,
    read_manifest_table as _read_manifest_table,
    require_local_dir,
    row_group_counts,
)


@dataclass
class _FilePartition(InputPartition):
    """One decode partition: a contiguous row-group span of one file."""

    file: str
    rg_start: int = 0
    rg_end: int = -1  # exclusive; -1 = through the last row group


def _to_us(v: Any) -> Any | None:
    """Timestamps arrive as datetime; zone stats store int64 microseconds.

    Naive datetimes are resolved as UTC — callers must only pass them when
    the session timezone IS UTC (``pushFilters`` skips the bound otherwise,
    keeping pruning conservative on non-UTC sessions)."""
    import datetime

    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo or datetime.timezone.utc)
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return v


def _survives(row: dict, bounds: dict[str, tuple[Any, Any]]) -> bool:
    """Block-level zone-map check: True unless some pushed bound range is
    provably disjoint from the block's [zmin, zmax] for that column.
    Missing stats keep the block (conservative)."""
    if not bounds:
        return True
    stats = {c["name"]: c for c in row["columns"]}
    for col, (lo, hi) in bounds.items():
        c = stats.get(col)
        if c is None:
            continue
        for zmin_k, zmax_k in (("zmin_int", "zmax_int"), ("zmin_num", "zmax_num"),
                               ("zmin_str", "zmax_str")):
            zmin, zmax = c.get(zmin_k), c.get(zmax_k)
            if zmin is None or zmax is None:
                continue
            try:
                if lo is not None and zmax < lo:
                    return False
                if hi is not None and zmin > hi:
                    return False
            except TypeError:  # bound/stat type mismatch: don't prune
                pass
            break
    return True


class SparrowIPCReader(DataSourceReader):
    """Base reader: NO ``pushFilters`` attribute — safe on sessions where
    ``spark.sql.python.filterPushdown.enabled`` is false (Spark 4.1 errors
    at reader init otherwise).  Zone-map pruning lives in the
    :class:`SparrowIPCPushdownReader` subclass, selected via
    ``.option("pushdown", "true")``."""

    def __init__(self, options: dict, fields: list[tuple[str, str]]):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sparrow_ipc requires a path: .load(out_dir)")
        cols_opt = options.get("columns")
        self.columns = ([c.strip() for c in cols_opt.split(",")] if cols_opt else None)
        self.fields = fields
        # session tz forwarded by read_encoded(); naive-datetime bounds are
        # only trusted on UTC sessions (conservative pruning elsewhere)
        self.session_tz_utc = str(options.get("session_tz", "UTC")).upper() in (
            "UTC", "ETC/UTC", "GMT", "Z")
        self.dict_rows = _load_dict_rows(self.path)
        self.bounds: dict[str, tuple[Any, Any]] = {}

    # cap on decode tasks per file: each task re-parses the file footer
    # (O(row groups)), so one-task-per-row-group on a many-block file would
    # cost O(blocks²) footer work and a task-scheduling flood
    MAX_TASKS_PER_FILE = 256

    def _manifest_rg_map(self) -> dict[str, int] | None:
        return manifest_file_map(self.path)

    def _rg_counts(self) -> list[tuple[str, int]]:
        """[(file path, row-group count)] for every committed block file.

        Fast path: the manifest records each file's row-group count at
        commit time, so planning does ZERO footer I/O (at 100 TB / tens of
        thousands of block files, per-file footer reads on the driver are
        minutes of serial latency before the first task).  Fallback (no
        manifest / legacy rows without file info / manifest-vs-disk
        mismatch after a crash): threaded footer reads."""
        disk = _blocks_files(self.path)
        d = os.path.join(self.path, "blocks")
        counts = committed_block_files(self.path) or row_group_counts(disk)
        return [(os.path.join(d, f), n) for f, n in sorted(counts.items())]

    def partitions(self) -> list[InputPartition]:
        """Partitions span contiguous row-group ranges: writers emit one
        block row per row group, so decode parallelism tracks block count —
        not writer task count — while tasks per file stay bounded."""
        parts: list[InputPartition] = []
        for f, n_rg in self._rg_counts():
            if n_rg == 0:
                parts.append(_FilePartition(f, 0, 0))
                continue
            span = max(1, -(-n_rg // self.MAX_TASKS_PER_FILE))
            parts.extend(
                _FilePartition(f, s, min(s + span, n_rg))
                for s in range(0, n_rg, span)
            )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _decode_file_rows(
            partition.file, self.fields, self.columns, self.dict_rows,
            bounds=self.bounds, rg_start=partition.rg_start,
            rg_end=partition.rg_end,
        )


class SparrowIPCPushdownReader(SparrowIPCReader):
    """Reader with zone-map filter pushdown (requires
    ``spark.sql.python.filterPushdown.enabled=true`` on the session)."""

    def pushFilters(self, filters: list[Filter]):
        import datetime

        names = {n for n, _ in self.fields}
        for f in filters:
            if isinstance(f, _RANGE_FILTERS) and len(f.attribute) == 1 \
                    and f.attribute[0] in names and f.value is not None:
                # a naive datetime bound is ambiguous unless the session tz
                # is UTC — skip it (no pruning) rather than shift blocks away
                naive_ts = (isinstance(f.value, datetime.datetime)
                            and f.value.tzinfo is None)
                if naive_ts and not self.session_tz_utc:
                    yield f
                    continue
                col = f.attribute[0]
                v = _to_us(f.value)
                lo, hi = self.bounds.get(col, (None, None))
                if isinstance(f, EqualTo):
                    nlo, nhi = v, v
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    nlo, nhi = v, None
                else:
                    nlo, nhi = None, v
                if nlo is not None:
                    lo = nlo if lo is None else max(lo, nlo)
                if nhi is not None:
                    hi = nhi if hi is None else min(hi, nhi)
                self.bounds[col] = (lo, hi)
            # zone maps prune blocks, not rows: EVERY filter goes back to
            # Spark for exact evaluation (partial pushdown contract)
            yield f


def _decode_file_rows(file: str, fields, columns, dict_rows,
                      bounds=None, rg_start: int = 0,
                      rg_end: int = -1) -> Iterator:
    """Shared block-file decode kernel for the batch and stream readers.

    Reads only the ``[rg_start, rg_end)`` row groups of ``file``; block
    metadata (tiny) is materialized per row, the multi-MB body stays a
    zero-copy Arrow buffer view, and decoded output is yielded as Arrow
    record batches end-to-end."""
    import pyarrow.parquet as pq

    from sparrow_ipc_spark.operators import blocks as B
    from sparrow_ipc_spark.operators.decode_job import load_dict_values

    ctx = {"dict_values": load_dict_values(dict_rows)}
    out_names = [n for n, _ in fields if columns is None or n in columns]
    pf = pq.ParquetFile(file)
    n_rg = pf.metadata.num_row_groups
    if rg_end < 0:
        rg_end = n_rg
    meta_names = [n for n in pf.schema_arrow.names if n != "body"]
    for rg in range(rg_start, min(rg_end, n_rg)):
        # two-phase read: tiny metadata columns first, zone-map check, and
        # only surviving blocks pay the multi-MB body column I/O — a pruned
        # point lookup never reads (or decompresses) pruned bodies at all
        meta_tbl = pf.read_row_group(rg, columns=meta_names)
        rows = []
        for i in range(meta_tbl.num_rows):
            row = {n: meta_tbl.column(n)[i].as_py() for n in meta_names}
            if bounds and not _survives(row, bounds):
                continue
            rows.append((i, row))
        if not rows:
            continue
        # walk chunks WITHOUT combine_chunks(): legacy files (no
        # row_group_size=1) can hold > 2 GiB of bodies per row group, which
        # cannot be concatenated into one int32-offset binary array
        body_col = pf.read_row_group(rg, columns=["body"]).column("body")
        chunks = body_col.chunks if hasattr(body_col, "chunks") else [body_col]
        starts = []
        acc = 0
        for ch in chunks:
            starts.append(acc)
            acc += len(ch)
        for i, row in rows:
            for s, ch in zip(reversed(starts), reversed(chunks)):
                if i >= s:
                    row["body"] = memoryview(ch[i - s].as_buffer())
                    break
            out = B.decode_block(row, ctx, columns=columns)
            yield from out.select(out_names).to_batches()


@dataclass
class _StreamPartition(InputPartition):
    file: str
    dict_rows: list


class SparrowIPCStreamReader(DataSourceStreamReader):
    """Incremental decode of a growing block directory: each micro-batch
    decodes the parquet block files not yet committed to the checkpoint.
    Block files are immutable once written (`write_encoded` append mode
    only adds new part files), so the file set IS the offset — the
    streaming analog of the reference's incremental deserializer
    (/root/reference/src/deserialize.cpp:406-537 consuming messages as
    they arrive)."""

    def __init__(self, options: dict, fields: list[tuple[str, str]]):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sparrow_ipc requires a path: .load(out_dir)")
        cols_opt = options.get("columns")
        self.columns = ([c.strip() for c in cols_opt.split(",")] if cols_opt else None)
        self.fields = fields

    def initialOffset(self) -> dict:
        return {"seen": [], "snap": -1}

    def _snap_capable(self) -> bool:
        """Snapshot offsets need EVERY manifest row to map a physical file
        (a legacy-migrated row with file=None cannot be resolved — serving
        snap offsets over such a dir would silently deliver nothing).
        A positive or legacy verdict is cached per reader instance (one
        column-pruned manifest read, then O(1) per trigger); an EMPTY
        manifest is NOT cached — the first commit may land after the
        stream starts, and a sticky False would pin a 10^6-file table to
        O(files) seen-set offsets for the life of the query."""
        if not hasattr(self, "_snap_ok"):
            t = _read_manifest_table(self.path, ["file"])
            if not t.num_rows:
                return False  # undecided: re-probe next trigger
            self._snap_ok = t.column("file").null_count == 0
        return self._snap_ok

    def latestOffset(self) -> dict:
        """Manifest-cursor offset: O(1) per trigger (one tiny JSON read),
        NOT a directory listing — at 10^12-turn scale ``blocks/`` holds
        ~10^6 files and an O(files) glob per micro-batch forever is a
        driver hot loop.  The committed snapshot id is the offset; the
        file set it denotes is resolved lazily in partitions().  Dirs
        without a cursor/manifest, or with legacy rows that cannot map
        files, fall back to the file-set offset (mixing forms across
        triggers is safe: partitions() resolves each side per its form)."""
        import pyarrow.compute as pc

        if self._snap_capable():
            cur = read_cursor(self.path)
            if cur is not None:
                return {"snap": int(cur["snapshot"])}
            t = _read_manifest_table(self.path, ["file", "snapshot"])
            if t.num_rows and t.column("file").null_count == 0:
                return {"snap": int(pc.max(
                    pc.fill_null(t.column("snapshot"), 0)).as_py())}
            # capability degraded mid-run (out-of-band legacy write or a
            # mid-swap rewrite): fall through to the file-set offset
        return {"seen": [os.path.basename(f) for f in _blocks_files(self.path)]}

    def _files_at(self, snap: int) -> set[str] | None:
        """Block-file basenames committed at snapshot <= snap; None when
        the manifest cannot resolve files (legacy rows)."""
        return new_files_between(self.path, -1, snap)

    def _offset_files(self, off: dict) -> set[str]:
        snap = int(off.get("snap", -1))
        if snap >= 0:
            files = self._files_at(snap)
            if files is not None:
                return files
            if "seen" not in off:
                # a committed snap offset that can no longer be resolved
                # (legacy rows appeared after the checkpoint recorded it):
                # failing loudly beats silently returning the empty set —
                # that would advance the checkpoint past real data forever
                raise ValueError(
                    f"snapshot offset {snap} can no longer be resolved to "
                    "a file set (manifest rows without file mapping); "
                    "restart the stream to re-probe capability")
        return set(off.get("seen", []))

    def partitions(self, start: dict, end: dict):
        s_snap, e_snap = int(start.get("snap", -1)), int(end.get("snap", -1))
        if s_snap >= 0 and e_snap >= 0:
            # snap→snap fast path: ONE snapshot-range segment read —
            # segments whose footer stats are disjoint from (start, end]
            # are skipped without reading data pages, so a trigger over a
            # 10^7-part table reads only the segments its new snapshots
            # live in (the Iceberg manifest-list pruning analog)
            new = new_files_between(self.path, s_snap, e_snap)
            if new is None:
                raise ValueError(
                    f"snapshot range ({s_snap}, {e_snap}] can no longer be "
                    "resolved to a file set (manifest rows without file "
                    "mapping); restart the stream to re-probe capability")
            new = sorted(new)
        else:
            new = sorted(self._offset_files(end) - self._offset_files(start))
        if not new:
            return []
        # dictionary snapshot rides in the partition: delta rows appended
        # after these blocks were written merge by version on decode
        dict_rows = _load_dict_rows(self.path)
        d = os.path.join(self.path, "blocks")
        return [_StreamPartition(os.path.join(d, f), dict_rows) for f in new]

    def read(self, partition: _StreamPartition) -> Iterator:
        yield from _decode_file_rows(
            partition.file, self.fields, self.columns, partition.dict_rows
        )

    def commit(self, end: dict) -> None:
        pass


@dataclass
class _WriteMessage(WriterCommitMessage):
    file: str
    part_id: int
    n_blocks: int
    n_rows: int
    raw_bytes: int
    enc_bytes: int
    codecs: list  # distinct (column, codec) pairs of the file's blocks


def _encode_to_staged(batches, part_id: int, attempt: int,
                      fields: list[tuple[str, str]], batch_rows: int,
                      staging: str) -> _WriteMessage:
    """Task-side encode: accumulate Arrow batches to block granularity,
    encode each block, stage one parquet file of block rows (unique per
    task attempt — only files named in successful commit messages publish)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparrow_ipc_spark.operators import blocks as B
    from sparrow_ipc_spark.schema import arrow_block_schema

    ctx: dict = {"global_dicts": {}}
    rows, pending, pending_rows, seq = [], [], 0, 0
    codecs: set[tuple[str, str]] = set()

    def flush(final: bool = False):
        nonlocal pending, pending_rows, seq
        if not pending_rows:
            return
        tbl = pa.Table.from_batches(pending).combine_chunks()
        # emit only FULL batch_rows-sized blocks; the sub-block tail stays
        # pending for the next accumulation (a final flush emits it) —
        # otherwise incoming batch sizes that don't divide batch_rows
        # fragment the output with runt blocks
        cut = tbl.num_rows if final else (tbl.num_rows // batch_rows) * batch_rows
        for start in range(0, cut, batch_rows):
            chunk = tbl.slice(start, batch_rows).combine_chunks()
            if not chunk.num_rows:
                continue
            row = B.encode_batch_arrow(chunk.to_batches()[0], fields, ctx, part_id, seq)
            seq += 1
            for c in row["columns"]:
                codecs.add((c["name"], c["codec"]))
            rows.append(row)
        rest = tbl.slice(cut)
        pending = rest.to_batches() if rest.num_rows else []
        pending_rows = rest.num_rows

    for b in batches:
        if b.num_rows == 0:
            continue
        pending.append(b)
        pending_rows += b.num_rows
        if pending_rows >= batch_rows:
            flush()
    flush(final=True)
    os.makedirs(staging, exist_ok=True)
    fname = f"part-{part_id:05d}-{attempt}.parquet"
    out = pa.Table.from_pylist(rows, schema=arrow_block_schema())
    # one block row per row group: the reader parallelizes and zone-map-
    # prunes at row-group granularity (a block body is MBs — the row-group
    # metadata overhead is noise next to it).  snappy, not zstd: bodies
    # are already zstd-compressed by the codec layer, so a heavyweight
    # file codec only burns CPU on both sides of the round trip
    pq.write_table(out, os.path.join(staging, fname), compression="snappy",
                   row_group_size=1)
    return _WriteMessage(
        file=fname, part_id=part_id, n_blocks=len(rows),
        n_rows=sum(r["n_rows"] for r in rows),
        raw_bytes=sum(r["raw_bytes"] for r in rows),
        enc_bytes=sum(r["enc_bytes"] for r in rows),
        codecs=sorted(codecs),
    )


def _publish(tx: CommitTransaction, staging: str, messages, schema,
             tag: str | None = None) -> None:
    """Publish staged task files through the commit transaction: seed the
    dictionaries table (block-local dictionaries only), land the files
    named in SUCCESSFUL task commit messages, and publish ONE manifest
    segment built from the messages (O(batch), no post-scan).

    Stream commits pass a batch ``tag``: files land under DETERMINISTIC
    batch-scoped names and the transaction's segment name is
    deterministic too, so a replay of a crashed half-published commit
    overwrites the same block files and segment instead of adding
    duplicates.  A crash mid-publish can expose a partial batch to
    readers until the restarted query replays it to completion; it can
    never duplicate rows."""
    tx.write_dictionaries([])
    messages = list(messages)
    if tag is not None:  # deterministic order → deterministic names
        messages.sort(key=lambda m: (m.part_id, m.file))
    names = tx.land(staging, [m.file for m in messages], tag=tag)
    tx.publish([
        # _encode_to_staged writes row_group_size=1: one block row per row
        # group, so the file's row-group count IS its block count —
        # recorded so read planning never opens a footer
        manifest_row(m.part_id, name, m.n_blocks, tx.snapshot, m.n_blocks,
                     m.n_rows, m.raw_bytes, m.enc_bytes, m.codecs)
        for m, name in zip(messages, names)
    ], schema=schema)


class SparrowIPCWriter(DataSourceArrowWriter):
    """``df.write.format("sparrow_ipc").save(out_dir)`` — per-task encode
    into staged block parquet files; commit() atomically publishes the
    staged files plus a manifest built from the task commit messages (no
    post-scan).  Uses block-local dictionaries only (the global
    distinct-build stage needs a separate job — use
    ``operators.encode_job.write_encoded`` for that); append mode offsets
    part ids past the committed manifest, overwrite replaces the table."""

    def __init__(self, options: dict, schema, overwrite: bool):
        import uuid

        from sparrow_ipc_spark.operators.encode_job import fields_of_struct

        if not options.get("path"):
            raise ValueError("sparrow_ipc requires a path: .save(out_dir)")
        self.schema = schema
        self.fields = fields_of_struct(schema)
        self.batch_rows = int(options.get("batch_rows", 65536))
        # the write job holds ONE commit transaction from init (where part
        # offsets are minted from committed state) through commit/abort —
        # two concurrent DS writers on one table serialize instead of
        # baking colliding part ids into their block rows.  An overwrite
        # clears the old table only at commit, after the tasks ran.
        self._tx = CommitTransaction(options["path"], overwrite=overwrite).begin()
        self.path = self._tx.path
        self.part_offset = self._tx.part_offset
        self.staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:12]}")

    def write(self, batches) -> _WriteMessage:
        from pyspark import TaskContext

        tc = TaskContext.get()
        part_id = self.part_offset + (tc.partitionId() if tc is not None else 0)
        attempt = tc.taskAttemptId() if tc is not None else 0
        return _encode_to_staged(batches, part_id, attempt, self.fields,
                                 self.batch_rows, self.staging)

    def commit(self, messages) -> None:
        try:
            _publish(self._tx, self.staging, messages, self.schema)
        finally:
            self._tx.close()

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)
        self._tx.close()


class SparrowIPCStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("sparrow_ipc")`` — each micro-batch encodes
    into staged block files and publishes under a new snapshot on commit.
    No-duplicate contract: a committed batchId leaves a ``_batch_<id>``
    marker in the manifest dir (a replayed commit discards its staged
    files), and published file names are deterministic per batch, so even
    a replay of a crashed HALF-published commit overwrites the same names
    instead of duplicating rows.  Part ids are manifest-offset + task
    attempt id (unique across batches, retries, AND query restarts).
    Block-local dictionaries only — the delta-dictionary streaming encoder
    is ``streaming.encode_stream.StreamingEncoder``."""

    def __init__(self, options: dict, schema):
        from sparrow_ipc_spark.operators.encode_job import fields_of_struct

        if not options.get("path"):
            raise ValueError("sparrow_ipc stream writer requires .option('path', out_dir)")
        self.path = require_local_dir(options["path"])
        self.schema = schema
        self.fields = fields_of_struct(schema)
        self.batch_rows = int(options.get("batch_rows", 65536))
        # part ids = part_offset + taskAttemptId.  Attempt ids are unique
        # within one SparkContext but RESTART AT ZERO in a new one — a
        # restarted query would otherwise reuse committed part ids and
        # os.replace over published block files.  Offsetting past the
        # committed manifest (the batch append path's scheme) makes ids
        # unique across restarts.
        _, max_part = committed_state(self.path)  # corruption raises
        self.part_offset = max_part + 1
        # deterministic staging dir: executor-side writer copies can outlive
        # one query run (reused Python workers), so a per-instance uuid can
        # diverge between the staging tasks and the committing driver;
        # micro-batches are sequential, so one shared dir is race-free
        self.staging = os.path.join(self.path, "_staging_stream")

    def write(self, batches) -> _WriteMessage:
        from pyspark import TaskContext

        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else 0
        return _encode_to_staged(batches, self.part_offset + int(attempt), attempt,
                                 self.fields, self.batch_rows, self.staging)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, "manifest", f"_batch_{batch_id}")

    def commit(self, messages, batchId: int) -> None:
        import shutil

        legacy = os.path.join(self.path, "_stream_commits", f"{batchId}")
        if os.path.exists(self._marker(batchId)) or os.path.exists(legacy):
            shutil.rmtree(self.staging, ignore_errors=True)  # replayed batch
            return
        tag = f"batch-{batchId:08d}"
        with CommitTransaction(self.path, seg_name=f"seg-{tag}.parquet") as tx:
            _publish(tx, self.staging, [m for m in messages if m is not None],
                     self.schema, tag=tag)
            # the marker records completion, written last: a crash before
            # it just replays the batch over the same deterministic names
            with open(self._marker(batchId), "w") as mf:
                mf.write("committed")

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class SparrowIPCDataSource(DataSource):
    """Read/write data source over an encoded block directory."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._fields: list[tuple[str, str]] | None = None  # lazy: absent for writes

    def _infer(self) -> list[tuple[str, str]]:
        if self._fields is None:
            self._fields = _infer_fields(self.options["path"])
        return self._fields

    @classmethod
    def name(cls) -> str:
        return "sparrow_ipc"

    def schema(self):
        import pyspark.sql.types as T

        from sparrow_ipc_spark.operators.encode_job import (
            load_schema_sidecar, spark_schema_for,
        )

        cols_opt = self.options.get("columns")
        keep = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
        # the _schema.json sidecar restores per-field custom key/value
        # metadata + exact nullability; block metadata is the fallback
        side = load_schema_sidecar(self.options["path"])
        if side is not None:
            fs = [f for f in side.fields if keep is None or f.name in keep]
            return T.StructType(fs)
        fields = self._infer()
        if keep is not None:
            fields = [f for f in fields if f[0] in keep]
        return spark_schema_for(fields)

    def reader(self, schema) -> SparrowIPCReader:
        # the DS lifecycle runs in a session-less Python worker, so the
        # filterPushdown conf is unreadable here — pushdown is opt-in via
        # .option("pushdown","true"); read_encoded() wires it from the
        # live session conf driver-side
        want = str(self.options.get("pushdown", "")).lower() in ("1", "true", "yes")
        cls = SparrowIPCPushdownReader if want else SparrowIPCReader
        return cls(dict(self.options), self._infer())

    def streamReader(self, schema) -> SparrowIPCStreamReader:
        return SparrowIPCStreamReader(dict(self.options), self._infer())

    def writer(self, schema, overwrite: bool) -> SparrowIPCWriter:
        return SparrowIPCWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> SparrowIPCStreamWriter:
        return SparrowIPCStreamWriter(dict(self.options), schema)


def read_encoded(spark, path: str, columns: list[str] | None = None):
    """Driver-side entry: ``spark.read.format("sparrow_ipc")`` with the
    pushdown option derived from the LIVE session conf (the only place it
    is readable).  Pushdown-enabled sessions get zone-map block pruning;
    others degrade to unpruned-but-correct reads instead of Spark 4.1's
    DATA_SOURCE_PUSHDOWN_DISABLED error."""
    spark.dataSource.register(SparrowIPCDataSource)
    try:
        enabled = str(spark.conf.get(
            "spark.sql.python.filterPushdown.enabled", "false") or "false").lower()
    except Exception:
        enabled = "false"
    try:
        tz = str(spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC")
    except Exception:
        tz = "UTC"
    r = (spark.read.format("sparrow_ipc")
         .option("pushdown", enabled).option("session_tz", tz))
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(path)
