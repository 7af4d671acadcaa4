"""Append-only manifest segments for encoded block directories.

The reference commits a stream file with ONE footer written at close
(/root/reference/src/stream_file_serializer.cpp:34-129).  A 10^12-turn
table is written by many jobs over time, so the Iceberg-style analog is an
append-only manifest *log*: every commit writes one new parquet segment
(`manifest/seg-*.parquet`) describing only the partitions it published —
commit cost is O(batch), never O(total parts) — and readers union the
segment files (a plain parquet-directory read for both pyarrow and Spark).

Layout of ``<table>/manifest/``:

* ``seg-*.parquet``   — one per commit (or one merged file after segment
  compaction).  Rows: part_id, n_blocks, n_rows, raw_bytes, enc_bytes,
  codec_summary, status, snapshot, plus the physical mapping ``file``
  (basename under ``blocks/``) and ``file_row_groups`` (that file's parquet
  row-group count) so the data source can plan row-group-spanned read
  partitions with ZERO driver-side footer I/O.
* ``_cursor.json``    — O(1) committed state: {"snapshot", "max_part_id"}.
  Atomically replaced after each segment publish; the streaming reader's
  ``latestOffset`` and writers' part-id offsets read it instead of walking
  the directory.  Missing/stale cursor degrades to a full segment read.
* ``_batch_<id>``     — streaming exactly-once markers (unchanged).

Commit contract: every writer — ``write_encoded``, the Data Source batch
and stream writers, the foreachBatch ``StreamingEncoder``, compaction —
commits through ONE :class:`CommitTransaction`, which runs the same steps
in the same order for all of them: lease, one read of committed state,
(overwrite only) clear, dictionary rows, the caller's block files,
manifest segment, cursor, ``_schema.json``.  The writers keep only what
is really theirs: how block files are produced, the stream writer's
``_batch_<id>`` markers, ``_job.json`` and compaction's directory swap.

Concurrency contract: ONE COMMITTER at a time, ENFORCED by
:class:`CommitLease` (``manifest/_commit.lease``), which the transaction
holds from its state read to its last publish, so two live writers
serialize instead of minting colliding part ids/snapshots.  A crashed
holder's lease expires and is taken over (one-winner rename); a long job
that loses its lease fails loudly at ``assert_owned`` before publishing,
never after.  The lease is the plain-filesystem stand-in for a catalog
CAS (Iceberg's commit arbiter) and the one place a real lock service
plugs in.  Readers are always safe concurrently with the committer
(segments appear atomically; a half-published batch is exposed at worst,
never duplicated).

Crash contract: a segment file appears atomically (tmp + ``os.replace``),
and the manifest is the commit record — block files it does not name are
uncommitted.  An overwrite clears the old manifest, dictionaries and
blocks BEFORE writing anything new, so a crash mid-overwrite leaves an
empty table, never old rows read through new dictionary codes.
Replayable commits (micro-batches) land their block files under
DETERMINISTIC batch-tagged names and publish a DETERMINISTIC segment
(``seg-<tag>.parquet``), so a replay of a half-crashed commit overwrites
its own files and segment instead of appending duplicates, reusing the
part offset and snapshot the segment recorded.  Segment compaction
(merging > ``SEGMENT_LIMIT`` files into one) can race a crash into
transient duplicate rows for a part; readers therefore dedupe on
(part_id, file), keeping the highest-snapshot row — duplicates are
byte-identical re-encodes, so this is purely cosmetic.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

_CURSOR = "_cursor.json"
SEGMENT_LIMIT = 64  # max seg files before an automatic merge


def man_dir(path: str) -> str:
    return os.path.join(path, "manifest")


def require_local_dir(path: str) -> str:
    """The commit plane (committed-state probe, ``_schema.json`` /
    ``_job.json`` sidecars, resume markers) uses local-filesystem
    primitives (``os.path``, ``open``).  On an object-store URI
    (``s3a://``, ``hdfs://``, ...) those silently report "not committed"
    and degrade an append/resume into an overwrite that deletes committed
    blocks — so refuse loudly instead.  Bare paths and ``file:`` URIs are
    accepted (``file:`` prefix stripped)."""
    import re as _re

    # only a '<scheme>://' shape is treated as a URI, plus the common
    # 'file:/abs' form — a RELATIVE local path whose first segment happens
    # to contain a colon ('data:v2/out') must pass through untouched
    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$", path)
    if m is None:
        if path.startswith("file:/"):
            return path[len("file:"):]
        return path
    if m.group(1) == "file":
        rest = m.group(2)
        # file://AUTHORITY/path: a non-local authority (file://nfs-host/x)
        # must not be silently mangled into the local path /nfs-host/x
        if not rest.startswith("/"):
            authority, _, tail = rest.partition("/")
            if authority not in ("", "localhost"):
                raise ValueError(
                    f"file:// URI with non-local authority '{authority}' — "
                    "the commit plane is local-filesystem only")
            rest = tail
        return "/" + rest.lstrip("/") if rest else "/"
    raise ValueError(
        f"write_encoded commit plane is local-filesystem only (got scheme "
        f"'{m.group(1)}://'): the committed-state probe and sidecar files "
        "use os.path/open, which would silently degrade append/resume to "
        "overwrite on an object store. Point out_dir at a local path.")


def manifest_pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("part_id", pa.int32()), ("n_blocks", pa.int64()),
            ("n_rows", pa.int64()), ("raw_bytes", pa.int64()),
            ("enc_bytes", pa.int64()), ("codec_summary", pa.string()),
            ("status", pa.string()), ("snapshot", pa.int64()),
            ("file", pa.string()), ("file_row_groups", pa.int64()),
            # the part-id offset the committing job encoded against —
            # recorded explicitly because a replay must reuse it exactly
            # and min(part_id) under-reports it whenever the lowest hash
            # partition encoded zero rows (nullable: legacy rows)
            ("part_offset", pa.int64()),
        ]
    )


def read_cursor(path: str) -> dict | None:
    """O(1) committed state, or None (no cursor / unreadable / STALE).

    Staleness check: the cursor records the segment count it was written
    against; a crash between a segment publish and the cursor update
    leaves the count behind, and a stale cursor must NOT be trusted (it
    would reuse snapshot and part ids).  The check is one directory
    listing of names — still O(1) file reads."""
    d = man_dir(path)
    try:
        with open(os.path.join(d, _CURSOR)) as f:
            cur = json.load(f)
    except (OSError, ValueError):
        return None
    if "snapshot" not in cur or "max_part_id" not in cur:
        return None
    # count legacy files too: a pre-segment manifest landing after the
    # cursor was written (mixed-version writer) must also invalidate it
    if int(cur.get("n_segments", -1)) != len(_segment_files(d)) + len(_legacy_files(d)):
        return None  # stale: manifest changed without this cursor
    return cur


def write_cursor(path: str, snapshot: int, max_part_id: int) -> None:
    """Publish the O(1) committed-state cursor, RECONCILED against the
    manifest directory: the written watermarks are the max of the caller's
    values and :func:`dir_committed_bounds`.  A committer that stalled past
    its lease and resumed after a takeover published newer segments would
    otherwise clobber the cursor with watermarks BEHIND the directory —
    with an n_segments count taken at write time, read_cursor's staleness
    check cannot catch that, and the next committer would mint colliding
    part ids / snapshots from it.  Reconciling also makes a streaming
    replay of an old micro-batch (recorded snapshot < later appends)
    publish a cursor covering the whole directory.  O(segments) footer
    reads — bounded by the auto-merge limit, not table size."""
    d = man_dir(path)
    os.makedirs(d, exist_ok=True)
    dir_snap, dir_part = dir_committed_bounds(path)
    tmp = os.path.join(d, f"_cursor.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump({"snapshot": max(int(snapshot), dir_snap),
                   "max_part_id": max(int(max_part_id), dir_part),
                   "n_segments": len(_segment_files(d)) + len(_legacy_files(d))}, f)
    os.replace(tmp, os.path.join(d, _CURSOR))


def _segment_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d)
                  if f.startswith("seg-") and f.endswith(".parquet"))


def _legacy_files(d: str) -> list[str]:
    """Pre-segment manifest parquet files (``manifest.parquet`` or Spark
    ``part-*`` output) that must be migrated into a segment."""
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d)
                  if f.endswith(".parquet") and not f.startswith(("seg-", "_", ".")))


def _manifest_read_dir(path: str) -> tuple[str, list[str]]:
    """(dir, files) holding the committed manifest — the live manifest/
    dir, or the legacy-crash ``manifest.old`` fallback (a crash between
    the legacy protocol's two renames can leave only the latter)."""
    d = man_dir(path)
    files = _segment_files(d) + _legacy_files(d)
    if not files:
        old = d + ".old"
        if os.path.isdir(old):
            legacy = _legacy_files(old)
            if legacy:
                return old, legacy
    return d, files


def manifest_state_token(path: str) -> tuple:
    """Cheap change-detection token for the committed manifest: one
    directory scan yielding (name, size, mtime_ns) per manifest file.
    Any commit, merge, migration, or deterministic-segment overwrite
    changes it; block-file churn does not (planning re-checks disk
    separately).  O(segments) stat calls — segments are bounded by the
    auto-merge limit, never by table size."""
    d, files = _manifest_read_dir(path)
    tok = []
    for f in files:
        try:
            st = os.stat(os.path.join(d, f))
            tok.append((f, st.st_size, st.st_mtime_ns))
        except FileNotFoundError:  # racing a merge: token simply differs
            tok.append((f, -1, -1))
    return tuple(tok)


# Planning cache: (path, key) -> (state token, value).  Lives for the
# process (driver or the persistent Python DS worker); entries invalidate
# on ANY manifest change via the token, so repeated query planning over an
# unchanged table costs one directory scan — not an O(total parts) read.
_plan_cache: dict[tuple, tuple] = {}
_plan_cache_lock = threading.Lock()
_PLAN_CACHE_MAX = 32


def cached_plan(path: str, key, build):
    """Memoize ``build()`` keyed on the manifest state token.  Lock-guarded:
    concurrent driver threads (two interleaved writers both planning) must
    not interleave the eviction's len-check/pop/insert."""
    tok = manifest_state_token(path)
    ck = (os.path.abspath(path), key)
    with _plan_cache_lock:
        ent = _plan_cache.get(ck)
        if ent is not None and ent[0] == tok:
            return ent[1]
    val = build()
    with _plan_cache_lock:
        if len(_plan_cache) >= _PLAN_CACHE_MAX:
            try:
                _plan_cache.pop(next(iter(_plan_cache)))
            except (KeyError, StopIteration):
                pass  # another thread evicted concurrently
        _plan_cache[ck] = (tok, val)
    return val


_DEDUPE_COLS = ("part_id", "file", "snapshot")


def read_manifest_table(path: str, columns: list[str] | None = None):
    """Committed manifest rows as ONE pyarrow table, column-pruned and
    deduped on (part_id, file) keeping the highest snapshot.

    This is the scale-shaped read: planning callers ask for the 3-4
    columns they need, so a 10^7-part manifest costs tens of MB of Arrow
    columns — never O(parts) Python dicts of every column (codec_summary
    alone is a JSON string per row).  Results are memoized on the manifest
    state token, so repeat planning over an unchanged table reads nothing.
    Real read errors PROPAGATE: silently treating a broken manifest as
    empty would restart part ids at 0 and overwrite committed blocks."""
    cols = None if columns is None else sorted(set(columns) | set(_DEDUPE_COLS))
    if cols is None:
        # full-width reads are the WRITE-SIDE view (resume, compaction):
        # rare, and caching them would pin an O(parts) all-columns table
        # (codec_summary strings included) in the process-wide plan cache
        # for the life of a long-lived driver — planning callers always
        # pass a column list and get the memoized pruned read
        return _read_manifest_table_uncached(path, None)
    return cached_plan(path, ("table", tuple(cols)),
                       lambda: _read_manifest_table_uncached(path, cols))


def _read_manifest_table_uncached(path: str, cols: list[str] | None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = manifest_pa_schema()
    d, files = _manifest_read_dir(path)
    if not files:
        return schema.empty_table() if cols is None else (
            schema.empty_table().select(cols))
    tables = []
    for f in files:
        p = os.path.join(d, f)
        have = set(pq.read_schema(p).names)
        want = [c for c in (cols or schema.names) if c in have]
        t = pq.read_table(p, columns=want)
        # legacy segments may predate a column: add it as nulls
        for c in (cols or schema.names):
            if c not in t.column_names:
                t = t.append_column(c, pa.nulls(t.num_rows,
                                                schema.field(c).type))
        tables.append(t.select(cols or schema.names))
    t = pa.concat_tables(tables, promote_options="permissive")
    # a SINGLE segment can still carry duplicates (a crash-recovery merge
    # folds the merged file + undeleted originals into one); the no-dup
    # fast path inside _dedupe_manifest keeps the common case cheap
    if t.num_rows:
        t = _dedupe_manifest(t)
    return t


def _dedupe_manifest(t):
    """Drop transient duplicate (part_id, file) rows (merge-crash windows,
    replayed deterministic segments), keeping the highest snapshot —
    vectorized via pandas, and skipped entirely on the no-duplicate common
    case."""
    import pyarrow as pa

    df = t.select(list(_DEDUPE_COLS)).to_pandas()
    dup = df.duplicated(["part_id", "file"])
    if not dup.any():
        return t
    keep = (df.assign(snapshot=df["snapshot"].fillna(0))
            .sort_values("snapshot", kind="stable")
            .drop_duplicates(["part_id", "file"], keep="last").index)
    return t.take(pa.array(sorted(keep)))


def read_manifest_rows(path: str) -> list[dict]:
    """All committed manifest rows as Python dicts — the WRITE-SIDE view
    (resume, compaction, vacuum all need every column).  Planning paths
    must use :func:`read_manifest_table` with a column list instead; at
    10^7 parts this call materializes O(parts) dicts.  [] when no
    manifest."""
    t = read_manifest_table(path)
    rows = t.to_pylist()
    for r in rows:
        if r.get("snapshot") is None:
            r["snapshot"] = 0
    return rows


def manifest_file_map(path: str) -> dict[str, int] | None:
    """{block-file basename: row-group count} from the committed manifest,
    or None when the table has no manifest rows or any row lacks the
    mapping (legacy rows without ``file``).  Column-pruned, vectorized, and
    memoized on the manifest state token — repeat planning over an
    unchanged table reads nothing."""
    def build() -> dict[str, int] | None:
        t = read_manifest_table(path, ["file", "file_row_groups"])
        if not t.num_rows:
            return None
        fc, nc = t.column("file"), t.column("file_row_groups")
        # nrg == 0 is a legitimately EMPTY committed file, not a missing
        # count — only absence (None) degrades to footer reads
        if fc.null_count or nc.null_count:
            return None
        out: dict[str, int] = {}
        for f, n in zip(fc.to_pylist(), nc.to_pylist()):
            if not f:
                return None
            prev = out.get(f)
            if prev is None or n > prev:
                out[f] = int(n)
        return out

    return cached_plan(path, "rg_map", build)


def committed_block_files(path: str) -> dict[str, int] | None:
    """:func:`manifest_file_map` when it maps the on-disk
    ``blocks/*.parquet`` files ONE-TO-ONE, else None — the one healthy-table
    condition every reader trusts (no crash leftovers, replayed attempts or
    hand-copied files beside the committed ones).  The Data Source reader
    then plans with zero footer I/O and ``decode_dir`` skips its duplicate
    check; on None both take their conservative path."""
    bd = os.path.join(path, "blocks")
    if not os.path.isdir(bd):
        return None
    by_file = manifest_file_map(path)
    if by_file is None:
        return None
    disk = {f for f in os.listdir(bd) if f.endswith(".parquet")}
    return by_file if set(by_file) == disk else None


def read_dict_rows(path: str) -> list[dict]:
    """Every dictionary row of the table — a driver-side pyarrow read of
    ``dictionaries/*.parquet`` (a bounded list: the cardinality gate caps
    global dictionaries); [] when there is no ``dictionaries/`` dir."""
    import pyarrow.parquet as pq

    d = os.path.join(path, "dictionaries")
    if not os.path.isdir(d):
        return []
    rows: list[dict] = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            rows.extend(pq.read_table(os.path.join(d, f)).to_pylist())
    return rows


def has_commits(path: str) -> bool:
    """True iff the table has any committed manifest state (segment or
    legacy manifest files).  Directory EXISTENCE is not commitment:
    :func:`acquire_commit_lease` pre-creates ``manifest/`` to host the
    lease file, so ``isdir(manifest)`` is true for a brand-new table."""
    return bool(_manifest_read_dir(path)[1])


def vacuum_orphan_blocks(path: str) -> int:
    """Delete unmanifested parquet files under ``blocks/`` (crashed or
    replayed write attempts).  The manifest is the commit record, so an
    unmanifested file is uncommitted garbage — left in place it would
    (a) duplicate rows for the batch DataSource reader (which decodes
    every file on disk) and (b) permanently fail the manifest-vs-disk
    planning check, degrading every read to footer fallback.

    SAFETY GUARD (shared by every caller — do not fork this logic): only
    deletes when every committed row records its physical ``file`` AND the
    committed file map is a subset of disk.  A hand-rewritten or
    foreign-tool dir has stale file names, and deleting by a stale map
    would destroy committed data.  Returns the number of files removed."""
    # column-pruned: vacuum only needs the file map, never the full-width
    # O(parts) dict view
    fc = read_manifest_table(path, ["file"]).column("file")
    if not len(fc) or fc.null_count:
        return 0
    committed_files = set(fc.to_pylist())
    bd = os.path.join(path, "blocks")
    if not os.path.isdir(bd):
        return 0
    disk = {f for f in os.listdir(bd) if f.endswith(".parquet")}
    if not committed_files <= disk:
        return 0
    for f in disk - committed_files:
        os.remove(os.path.join(bd, f))
    return len(disk - committed_files)


def segment_snapshot_range(seg_path: str) -> tuple[int, int] | None:
    """(min, max) of the ``snapshot`` column from the segment's parquet
    FOOTER statistics — no data pages read.  None when stats are absent
    (caller must read the segment: conservative)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(seg_path)
        idx = md.schema.to_arrow_schema().names.index("snapshot")
    except (OSError, ValueError):
        return None
    lo = hi = None
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return None
    return int(lo), int(hi)


def _file_col_max(p: str, md, col: str) -> int | None:
    """Max of ``col`` over one manifest parquet file, from FOOTER
    statistics when present (no data pages), else a column-pruned read.
    None when the column is absent (pre-``snapshot`` legacy files) or the
    file holds no values."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    names = md.schema.to_arrow_schema().names
    if col not in names:
        return None
    idx = names.index(col)
    hi, stats_ok = None, True
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(idx).statistics
        if st is None or not st.has_min_max:
            stats_ok = False
            break
        hi = st.max if hi is None else max(hi, st.max)
    if stats_ok:
        return None if hi is None else int(hi)
    v = pc.max(pq.read_table(p, columns=[col]).column(col)).as_py()
    return None if v is None else int(v)


def dir_committed_bounds(path: str) -> tuple[int, int]:
    """(max_snapshot, max_part_id) derived from the manifest DIRECTORY —
    footer statistics over every committed manifest file, never trusting
    the cursor.  (-1, -1) when the table has no commits.  O(segments)
    footer reads; segments are bounded by the auto-merge limit, so this is
    safe on a per-commit hot path.

    This is the ground truth :func:`write_cursor` reconciles against: a
    writer that stalls past its lease inside ``write_segment`` (merge at
    high part counts) can resume after a takeover already published newer
    segments, and a cursor written from its in-memory state would record
    snapshot/part watermarks BEHIND the directory — the next committer
    would mint colliding ids from it."""
    import pyarrow.parquet as pq

    d, files = _manifest_read_dir(path)
    max_s, max_p = -1, -1
    for f in files:
        p = os.path.join(d, f)
        try:
            md = pq.read_metadata(p)
        except (OSError, ValueError) as e:
            # racing a merge delete is the ONLY benign case (content lives
            # in the merged file) — confirm the file actually vanished; a
            # genuinely corrupt segment must propagate, not silently lower
            # the ground-truth bounds the snapshot CAS depends on
            # (ADVICE r5)
            if not os.path.exists(p):
                continue
            raise OSError(f"unreadable manifest segment {p}") from e
        if not md.num_rows:
            continue
        s = _file_col_max(p, md, "snapshot")
        # legacy rows predate the snapshot column: they are snapshot 0
        max_s = max(max_s, 0 if s is None else s)
        pid = _file_col_max(p, md, "part_id")
        if pid is not None:
            max_p = max(max_p, pid)
    return max_s, max_p


def new_files_between(path: str, start_snap: int, end_snap: int) -> set[str] | None:
    """Block-file basenames committed in snapshot range (start, end] — the
    streaming micro-batch planning read.  Segments whose footer-stat
    snapshot range is disjoint from the query range are SKIPPED without
    reading their data pages (the Iceberg manifest-list pruning analog),
    so a trigger over a 10^7-part table reads only the segments its new
    snapshots live in.  None = unresolvable (some in-range row lacks a
    file mapping; caller falls back to the full-read path and its loud
    error contract).

    Equivalence with dedupe-then-filter over the full manifest: duplicate
    (part_id, file) rows are same-snapshot by construction (a replayed
    deterministic commit reuses its recorded snapshot; merge-crash
    duplicates are identical rows), so filtering segments by range cannot
    disagree with global max-snapshot dedupe."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build() -> set[str] | None:
        d, files = _manifest_read_dir(path)
        out: set[str] = set()
        for f in files:
            p = os.path.join(d, f)
            rng = segment_snapshot_range(p)
            if rng is not None and (rng[1] <= start_snap or rng[0] > end_snap):
                continue  # disjoint: skip without reading data pages
            have = set(pq.read_schema(p).names)
            if "file" not in have:
                return None  # legacy segment: cannot map files
            cols = [c for c in ("file", "snapshot") if c in have]
            t = pq.read_table(p, columns=cols)
            snap = (t.column("snapshot") if "snapshot" in t.column_names
                    else None)
            if snap is None:
                if start_snap < 0 <= end_snap:  # legacy rows: snapshot 0
                    fc = t.column("file")
                else:
                    continue
            else:
                mask = pc.and_(pc.greater(pc.fill_null(snap, 0), start_snap),
                               pc.less_equal(pc.fill_null(snap, 0), end_snap))
                fc = pc.filter(t.column("file"), mask)
            if fc.null_count:
                return None
            out.update(fc.to_pylist())
        return out

    return cached_plan(path, ("new_files", int(start_snap), int(end_snap)), build)


def _migrate_legacy(d: str) -> None:
    """One-time rewrite of a pre-segment manifest dir into segment form
    (O(existing parts), paid once on the first append to an old table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = _legacy_files(d)
    if not legacy:
        return
    rows = []
    for f in legacy:
        rows.extend(pq.read_table(os.path.join(d, f)).to_pylist())
    for r in rows:
        r.setdefault("snapshot", 0)
        r.setdefault("file", None)
        r.setdefault("file_row_groups", None)
    seg = f"seg-migrated-{uuid.uuid4().hex[:8]}.parquet"
    tmp = os.path.join(d, f"_{seg}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=manifest_pa_schema()), tmp)
    os.replace(tmp, os.path.join(d, seg))
    for f in legacy:
        os.remove(os.path.join(d, f))
    # Spark-written legacy dirs carry a _SUCCESS marker; harmless but stale
    s = os.path.join(d, "_SUCCESS")
    if os.path.isfile(s):
        os.remove(s)


def _maybe_merge_segments(d: str, limit: int = SEGMENT_LIMIT,
                          keep: str | None = None) -> None:
    """Merge segments into one when the count exceeds ``limit`` — the
    periodic compaction that keeps reader cost bounded (the Iceberg
    rewrite-manifests analog).  ``keep`` (the just-written deterministic
    segment) is EXCLUDED from the merge: a crashed micro-batch commit is
    replayed against its own segment to recover its part offset and
    snapshot, so merging it away would make the replay mint fresh ids and
    duplicate the batch.  Only the newest deterministic segment is ever a
    replay target (Spark replays just the last uncommitted batch); older
    ones merge freely.  Crash mid-delete leaves duplicate rows; readers
    dedupe on (part_id, file) so this is safe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    segs = [s for s in _segment_files(d) if s != keep]
    if len(segs) <= limit:
        return
    # merging changes the segment count a cursor was written against —
    # drop the cursor first (write_segment already did on the normal
    # path; this keeps direct/defensive callers safe too)
    try:
        os.remove(os.path.join(d, _CURSOR))
    except FileNotFoundError:
        pass
    rows = []
    for f in segs:
        rows.extend(pq.read_table(os.path.join(d, f)).to_pylist())
    merged = f"seg-merged-{uuid.uuid4().hex[:8]}.parquet"
    tmp = os.path.join(d, f"_{merged}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=manifest_pa_schema()), tmp)
    os.replace(tmp, os.path.join(d, merged))
    for f in segs:
        os.remove(os.path.join(d, f))


def write_segment(path: str, man_rows: list[dict], seg_name: str | None = None,
                  merge_limit: int = SEGMENT_LIMIT,
                  expect_new_snapshot: int | None = None) -> str:
    """Atomically publish one manifest segment (plus legacy migration and
    opportunistic segment merging).  Returns the segment file name.

    ``seg_name`` must be deterministic for replayable commits (streaming
    micro-batches) so a replay overwrites rather than duplicates.

    ``expect_new_snapshot`` is the filesystem CAS for append commits: the
    caller passes the snapshot it minted (committed max + 1 at the time it
    read state), and the publish is REFUSED with :class:`CommitLeaseError`
    if the directory already holds that snapshot or newer — the signature
    of a committer that stalled past its lease while a takeover published.
    Skipped when the deterministic segment already exists (a replay
    legitimately re-publishes its recorded snapshot, possibly below the
    directory max).  A sub-millisecond check-to-replace window remains
    (plain filesystems cannot close it); the lease protocol makes reaching
    it require a stall that defeats the heartbeat, and the reconciling
    :func:`write_cursor` bounds the damage to duplicate part ids inside
    one segment, never a poisoned cursor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = man_dir(path)
    os.makedirs(d, exist_ok=True)
    if seg_name is None:
        seg_name = f"seg-{uuid.uuid4().hex[:12]}.parquet"
    if expect_new_snapshot is not None and not os.path.isfile(
            os.path.join(d, seg_name)):
        dir_snap, _ = dir_committed_bounds(path)
        if dir_snap >= int(expect_new_snapshot):
            raise CommitLeaseError(
                f"append commit conflict for {path}: directory already "
                f"holds snapshot {dir_snap} >= expected new snapshot "
                f"{expect_new_snapshot} — another committer published "
                "after this writer read committed state (lease lost?); "
                "re-read state and re-mint ids before retrying")
    # STRUCTURAL cursor invalidation: delete the cursor before touching the
    # log, so a crash anywhere before the caller's write_cursor leaves NO
    # cursor (full-read fallback) rather than a stale one.  The n_segments
    # check in read_cursor alone is not crash-safe: a merge can restore a
    # count an old cursor was written against (found by the stateful fuzz).
    try:
        os.remove(os.path.join(d, _CURSOR))
    except FileNotFoundError:
        pass
    _migrate_legacy(d)
    rows = []
    for r in man_rows:
        r = dict(r)
        r.setdefault("snapshot", 0)
        r.setdefault("file", None)
        r.setdefault("file_row_groups", None)
        r.setdefault("part_offset", None)
        rows.append(r)
    tmp = os.path.join(d, f"_{seg_name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=manifest_pa_schema()), tmp)
    os.replace(tmp, os.path.join(d, seg_name))
    _maybe_merge_segments(d, merge_limit, keep=seg_name)
    return seg_name


def rewrite_manifest(path: str, man_rows: list[dict]) -> None:
    """Full manifest REWRITE (block compaction only): replaces every
    segment with one merged segment describing the post-rewrite table.
    Like :func:`write_segment` it leaves NO cursor; the caller publishes
    one (:meth:`CommitTransaction.publish` does)."""
    d = man_dir(path)
    seg = write_segment(path, man_rows, f"seg-rewrite-{uuid.uuid4().hex[:8]}.parquet",
                        merge_limit=10**9)
    # delete everything the new segment supersedes (including any
    # migration segment write_segment just produced)
    for f in _segment_files(d) + _legacy_files(d):
        if f != seg:
            os.remove(os.path.join(d, f))


def committed_state(path: str) -> tuple[int, int]:
    """(max_snapshot, max_part_id) of the committed table; (-1, -1) when
    empty.  Cursor fast path, full segment read fallback."""
    cur = read_cursor(path)
    if cur is not None:
        return int(cur["snapshot"]), int(cur["max_part_id"])
    import pyarrow.compute as pc

    t = read_manifest_table(path, ["part_id", "snapshot"])
    if not t.num_rows:
        return -1, -1
    return (int(pc.max(pc.fill_null(t.column("snapshot"), 0)).as_py()),
            int(pc.max(t.column("part_id")).as_py()))


def manifest_row(part_id: int, file: str, file_row_groups: int, snapshot: int,
                 n_blocks: int, n_rows: int, raw_bytes: int, enc_bytes: int,
                 codecs) -> dict:
    """One committed manifest row — the ONE place a row's shape and its
    ``codec_summary`` are formatted, whether the per-part totals come from
    reading block files back (:func:`manifest_rows_for_new_files`) or from
    Data Source task commit messages.  ``codecs`` holds (column, codec)
    pairs; a column may legitimately use different codecs in different
    blocks, so the summary lists every distinct pair, sorted."""
    return {
        "part_id": int(part_id),
        "file": file,
        "n_blocks": int(n_blocks),
        "n_rows": int(n_rows),
        "raw_bytes": int(raw_bytes),
        "enc_bytes": int(enc_bytes),
        "codec_summary": json.dumps(
            [{"col": a, "codec": b} for a, b in sorted(set(codecs))],
            separators=(",", ":")),
        "status": "committed",
        "file_row_groups": int(file_row_groups),
        "snapshot": int(snapshot),
    }


def manifest_rows_for_new_files(blocks_dir: str, new_files: list[str],
                                snapshot: int) -> list[dict]:
    """Manifest rows (with physical file mapping + commit-time row-group
    counts + snapshot) for freshly-written block parquet files — the
    O(batch) commit stamping of every writer that produces its block files
    with Spark (write_encoded, the foreachBatch StreamingEncoder,
    compaction).

    Driver-side pyarrow reads: the stamped batch is a bounded list of
    freshly-written files holding a handful of block METADATA rows each (a
    Spark job here cost ~0.4 s of pure scheduling per commit).  Files are
    read on a thread pool — compaction passes every block file of the
    table — and each file's footer is opened once for both its row-group
    count and its metadata rows.

    A new file holding no block rows (Spark writes one for an empty
    partition 0, to carry the schema) names no part, so no manifest row
    can commit it: it is deleted here, or it would keep the manifest from
    mapping disk one-to-one and send every read down the duplicate-check
    path."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(fname: str):
        with pq.ParquetFile(os.path.join(blocks_dir, fname)) as pf:
            t = pf.read(columns=["part_id", "n_rows", "raw_bytes",
                                 "enc_bytes", "columns"])
            return fname, pf.metadata.num_row_groups, t

    if not new_files:
        return []
    with ThreadPoolExecutor(min(16, len(new_files))) as ex:
        read = list(ex.map(one, new_files))
    rows: list[dict] = []
    for fname, n_rg, t in read:
        if not t.num_rows:
            os.remove(os.path.join(blocks_dir, fname))
            continue
        per_part: dict[int, dict] = {}
        for rec in t.to_pylist():
            d = per_part.setdefault(int(rec["part_id"]), {
                "n_blocks": 0, "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0,
                "codecs": set()})
            d["n_blocks"] += 1
            d["n_rows"] += int(rec["n_rows"])
            d["raw_bytes"] += int(rec["raw_bytes"])
            d["enc_bytes"] += int(rec["enc_bytes"])
            d["codecs"].update((c["name"], c["codec"]) for c in rec["columns"])
        rows.extend(manifest_row(part_id, fname, n_rg, snapshot, **per_part[part_id])
                    for part_id in sorted(per_part))
    return rows


def segment_commit_info(path: str, seg_name: str) -> tuple[int | None, int | None]:
    """(part_offset, snapshot) recorded in one existing deterministic
    segment, or (None, None) when absent — ONE read of the two values a
    replayed micro-batch commit must reuse together.  Minting fresh ones
    would re-encode the batch under new part ids (decode's byte-identical
    dedupe stops matching → every row doubles) and shift its snapshot (a
    snapshot-offset reader re-delivers; old-snapshot time travel loses
    it).  part_offset is the recorded column when present (exact even if
    the lowest hash partition encoded zero rows); min(part_id) covers
    pre-column segments."""
    import pyarrow.parquet as pq

    p = os.path.join(man_dir(path), seg_name)
    if not os.path.isfile(p):
        return None, None
    t = pq.read_table(p)
    snap_col = t.column("snapshot").to_pylist() if "snapshot" in t.column_names else []
    snap = max((int(v or 0) for v in snap_col), default=None)
    off = None
    if "part_offset" in t.column_names:
        offs = [int(v) for v in t.column("part_offset").to_pylist() if v is not None]
        off = min(offs) if offs else None
    if off is None and "part_id" in t.column_names:
        off = min((int(v) for v in t.column("part_id").to_pylist()), default=None)
    return off, snap


class CommitLeaseError(RuntimeError):
    """The commit lease was lost (stolen after expiry) or never acquired."""


class CommitLease:
    """Filesystem lock-lease commit arbiter — the multi-writer integration
    point named by the concurrency contract above, now enforced.

    Protocol (single-committer-at-a-time, crash-tolerant):

    * acquire: O_EXCL-create ``manifest/_commit.lease`` holding
      {owner, pid, renewed, lease_s}.  An existing UNEXPIRED lease means a
      live committer — poll until it releases or ``timeout_s`` elapses.
    * stale takeover: an EXPIRED lease (crashed committer) is removed via
      ``os.rename`` to a unique stale name — rename of one source path
      succeeds for exactly ONE contender (the others get FileNotFoundError
      and re-poll), so two takers can never both think they cleared the
      way; the winner still races fresh acquirers through O_EXCL.
    * renew: rewrite the lease atomically with a fresh timestamp —
      long-running jobs renew before committing; ``assert_owned`` right
      before a publish turns a stolen lease into a loud
      :class:`CommitLeaseError` instead of a silent collision.
    * release: remove the lease iff still owned (a post-expiry thief keeps
      its own lease; release never deletes someone else's).

    The lease file is ``_``-prefixed: invisible to parquet dataset
    discovery (pyarrow and Spark both).  This is the plain-filesystem
    stand-in for a catalog CAS (Iceberg's commit arbiter); pointing a real
    lock service here is a one-class swap."""

    FILE = "_commit.lease"

    def __init__(self, path: str, owner: str, lease_s: float):
        self.path = path
        self.owner = owner
        self.lease_s = float(lease_s)
        self._lock = threading.RLock()
        self._lost = False
        self._hb: threading.Thread | None = None
        self._hb_stop = threading.Event()

    # the DS writer pickles itself (lease included) to executors; thread
    # primitives don't pickle and executors never commit, so the copy
    # rebuilds with a fresh (idle) heartbeat state
    def __getstate__(self) -> dict:
        return {"path": self.path, "owner": self.owner, "lease_s": self.lease_s}

    def __setstate__(self, st: dict) -> None:
        self.__init__(st["path"], st["owner"], st["lease_s"])

    @property
    def _file(self) -> str:
        return os.path.join(man_dir(self.path), self.FILE)

    def _read(self) -> dict | None:
        try:
            with open(self._file) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _payload(self) -> dict:
        import time

        return {"owner": self.owner, "pid": os.getpid(),
                "renewed": time.time(), "lease_s": self.lease_s}

    def renew(self) -> None:
        """Refresh the lease timestamp; raises :class:`CommitLeaseError`
        if the lease was stolen (this writer must NOT commit).

        Thread-safe (the heartbeat thread and the committing thread both
        call it).  EVERY refresh goes through the same one-winner claim —
        rename the path file to a private name, verify it is still ours,
        and restore the refreshed payload with a no-clobber ``os.link``;
        losing any of those steps marks the lease lost and raises.  A
        read-unexpired-then-replace fast path is NOT safe here: a process
        stall between the expiry check and the replace lets a contender
        complete a takeover and O_EXCL a fresh lease that the resumed
        replace would clobber, yielding two live committers.  The uniform
        claim path leaves the lease path empty for the microseconds
        between rename and link; a contender that O_EXCLs inside that
        window wins and this holder fails loudly before publishing —
        single-committer safety is preserved in every interleaving."""
        with self._lock:
            if self._lost:
                raise CommitLeaseError(
                    f"commit lease for {self.path} was lost earlier; "
                    "this writer must not commit")
            cur = self._read()
            if cur is None or cur.get("owner") != self.owner:
                self._lost = True
                raise CommitLeaseError(
                    f"commit lease for {self.path} lost (held by "
                    f"{cur.get('owner') if cur else 'nobody'}); this writer's "
                    "lease expired and was taken over — its commit would race")
            claim = self._file + f".renew-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(self._file, claim)
            except FileNotFoundError:
                self._lost = True
                raise CommitLeaseError(
                    f"commit lease for {self.path} lost: expired and "
                    "removed by a takeover mid-renew")
            try:
                with open(claim) as f:
                    moved = json.load(f)
            except (OSError, ValueError):
                moved = None
            if moved is None or moved.get("owner") != self.owner:
                # we displaced someone else's fresh lease: put it back
                try:
                    os.link(claim, self._file)
                except FileExistsError:
                    pass
                os.remove(claim)
                self._lost = True
                raise CommitLeaseError(
                    f"commit lease for {self.path} lost to a takeover "
                    "(expired before renewal)")
            tmp = self._file + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                json.dump(self._payload(), f)
            try:
                os.link(tmp, self._file)  # no-clobber restore
            except FileExistsError:
                os.remove(tmp)
                os.remove(claim)
                self._lost = True
                raise CommitLeaseError(
                    f"commit lease for {self.path} lost: a contender "
                    "acquired while our expired lease was being renewed")
            os.remove(tmp)
            os.remove(claim)

    assert_owned = renew  # same check + refresh, intent-named for commits

    def start_heartbeat(self, interval_s: float | None = None) -> None:
        """Background renewal so a long-running job (a multi-minute Spark
        encode) never loses its lease merely for being slow — expiry then
        only ever means a crashed/hung holder.  Daemon thread; a renewal
        that discovers the lease stolen stops the heartbeat and leaves
        ``assert_owned`` to raise loudly in the committing thread."""
        with self._lock:
            if self._hb is not None:
                return
            iv = interval_s if interval_s is not None else max(
                0.5, self.lease_s / 4.0)
            self._hb_stop = threading.Event()

            def run() -> None:
                while not self._hb_stop.wait(iv):
                    try:
                        self.renew()
                    except CommitLeaseError:
                        return  # _lost is set; committer will fail loudly
                    except OSError:
                        continue  # transient fs hiccup: retry next tick

            self._hb = threading.Thread(
                target=run, daemon=True, name="commit-lease-heartbeat")
            self._hb.start()

    def stop_heartbeat(self) -> None:
        hb = self._hb
        if hb is not None:
            self._hb_stop.set()
            hb.join(timeout=5)
            self._hb = None

    def recreate(self) -> None:
        """Re-materialize the lease file after an OVERWRITE commit cleared
        the manifest dir (taking the lease file with it).  Only valid for
        the holder that performed the clear — anyone else acquiring in the
        clear-to-recreate window loses to the O_EXCL-free rewrite here,
        which is acceptable exactly because overwrite is already
        destructive to every concurrent writer by definition.  Callers
        must stop the heartbeat before clearing the dir and restart it
        after this call (a renew against the momentarily-missing file
        would mark the lease lost)."""
        with self._lock:
            os.makedirs(man_dir(self.path), exist_ok=True)
            tmp = self._file + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                json.dump(self._payload(), f)
            os.replace(tmp, self._file)
            self._lost = False

    def release(self) -> None:
        """Remove the lease iff still owned.  Like :meth:`renew`, the
        remove ALWAYS goes through a claim-and-verify rename — a
        read-unexpired-then-remove fast path could delete a successor's
        fresh lease if this process stalled past expiry between the check
        and the remove."""
        self.stop_heartbeat()
        with self._lock:
            cur = self._read()
            if cur is None or cur.get("owner") != self.owner:
                return
            claim = self._file + f".release-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(self._file, claim)
            except FileNotFoundError:
                return  # takeover already cleared it
            try:
                with open(claim) as f:
                    moved = json.load(f)
            except (OSError, ValueError):
                moved = None
            if moved is not None and moved.get("owner") != self.owner:
                # displaced a thief's fresh lease: restore no-clobber
                try:
                    os.link(claim, self._file)
                except FileExistsError:
                    pass
            os.remove(claim)

    def __enter__(self) -> "CommitLease":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def acquire_commit_lease(path: str, lease_s: float = 120.0,
                         timeout_s: float = 300.0,
                         poll_s: float = 0.05) -> CommitLease:
    """Block until this process holds the table's commit lease (see
    :class:`CommitLease`).  Raises TimeoutError when a live committer
    holds it past ``timeout_s``.  ``lease_s`` < ``timeout_s`` by default
    so a crashed holder is taken over before waiters give up.  Expiry
    only bites under contention: an uncontended job that outlives its
    lease still renews fine (the file keeps its owner token); a contended
    takeover makes the loser's ``assert_owned`` fail loudly before it can
    publish."""
    import time

    d = man_dir(path)
    os.makedirs(d, exist_ok=True)
    lease = CommitLease(path, f"{os.getpid()}-{uuid.uuid4().hex[:12]}", lease_s)
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lease._file, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            cur = lease._read()
            if cur is not None:
                expired = time.time() > float(cur.get("renewed", 0)) + float(
                    cur.get("lease_s", lease_s))
            else:
                try:
                    # unparseable lease (writer died between O_EXCL create
                    # and payload write): stale once its mtime ages past
                    # the default lease — without this the empty file
                    # deadlocks every future committer
                    mt = os.stat(lease._file).st_mtime
                except FileNotFoundError:
                    continue  # holder released between create-fail and read
                expired = time.time() > mt + lease_s
            if expired:
                # one-winner takeover: rename succeeds for exactly one
                # contender — but the file AT the path may no longer be
                # the one judged expired (a faster contender can have
                # cleared it and O_EXCL-created a FRESH lease between our
                # read and our rename), so verify the displaced content
                # before destroying it
                stale = lease._file + f".stale-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(lease._file, stale)
                except FileNotFoundError:
                    continue  # another contender won the rename
                try:
                    with open(stale) as f:
                        moved = json.load(f)
                except (OSError, ValueError):
                    moved = None
                now = time.time()
                if moved is not None:
                    moved_expired = now > float(moved.get("renewed", 0)) + \
                        float(moved.get("lease_s", lease_s))
                else:
                    # unparseable: stale only once its mtime has aged past
                    # the lease (a fresh O_EXCL file whose payload is
                    # still being written must survive)
                    try:
                        moved_expired = now > os.stat(stale).st_mtime + lease_s
                    except FileNotFoundError:
                        moved_expired = True
                if not moved_expired:
                    # displaced a LIVE lease: restore it no-clobber.  If a
                    # third contender claimed the path meanwhile, the
                    # displaced holder's next renew/assert_owned fails
                    # loudly — degraded liveness, never a double-commit.
                    try:
                        os.link(stale, lease._file)
                    except FileExistsError:
                        pass
                os.remove(stale)
                continue  # retry the O_EXCL create
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lease for {path} held by "
                    f"{cur.get('owner') if cur else '?'} past {timeout_s}s")
            time.sleep(poll_s)
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(lease._payload(), f)
        return lease


class CommitTransaction:
    """The ONE commit protocol of every table writer (the reference's
    dictionaries → record batches → write-once footer order,
    stream_file_serializer.cpp:34-129).  The steps always run in this
    order:

    1. :func:`require_local_dir` (constructor);
    2. commit lease plus heartbeat (:meth:`begin`);
    3. ONE read of committed state — :func:`committed_state`, plus
       :func:`segment_commit_info` when a deterministic ``seg_name`` is
       given (a replay reuses the part offset and snapshot it recorded);
    4. overwrite only: clear ``manifest/``, ``dictionaries/`` and
       ``blocks/`` FIRST, then recreate the lease the clear took with it;
    5. dictionary rows, appended as one new file (4 and 5 are
       :meth:`write_dictionaries`);
    6. the caller lands its block files — directly (Spark writes into
       ``blocks/``), through :meth:`land` (staged files, deterministic
       names for replayable commits) or by compaction's directory swap;
    7. the caller builds manifest rows (:func:`manifest_row`,
       :func:`manifest_rows_for_new_files`);
    8. ``assert_owned`` → :func:`write_segment` (append CAS), or the
       compaction :func:`rewrite_manifest`;
    9. ``assert_owned`` → :func:`write_cursor`;
    10. ``_schema.json`` (8-10 are :meth:`publish`).

    The lease is held from step 2 through :meth:`close` (also a context
    manager).  ``overwrite=None`` is create-or-append: overwrite iff the
    table has no commits yet, decided under the lease.  The Data Source
    batch writer holds one transaction from its driver-side init (part
    offsets are minted from step 3) to commit, across a pickle round trip
    — the lease pickles as its owner token."""

    def __init__(self, path: str, overwrite: bool | None = False,
                 seg_name: str | None = None):
        self.path = require_local_dir(path)
        self.overwrite = overwrite
        self.seg_name = seg_name
        self.lease: CommitLease | None = None

    def begin(self) -> "CommitTransaction":
        self.lease = acquire_commit_lease(self.path)
        # a multi-minute job must not lose its lease merely for being
        # slow: heartbeat renewals keep it fresh, so expiry only ever
        # means a crash
        self.lease.start_heartbeat()
        try:
            # committed = manifest CONTENT, never directory existence: the
            # lease itself pre-creates manifest/
            if self.overwrite is None:
                self.overwrite = not has_commits(self.path)
            snap, max_part = (-1, -1) if self.overwrite else committed_state(self.path)
            off, replay_snap = (segment_commit_info(self.path, self.seg_name)
                                if self.seg_name else (None, None))
        except BaseException:
            self.lease.release()
            raise
        self.part_offset = max_part + 1 if off is None else off
        self.snapshot = snap + 1 if replay_snap is None else replay_snap
        return self

    def assert_held(self) -> None:
        """Raise :class:`CommitLeaseError` unless this transaction still
        holds the table — call before a destructive step the transaction
        does not run itself (compaction's directory swap)."""
        self.lease.assert_owned()

    def write_dictionaries(self, rows: list[dict]) -> None:
        """Steps 4-5.  Overwrite clears the old table FIRST: were it
        cleared after the new dictionaries landed, a crash in between
        would decode the old blocks through the new codes — silently wrong
        rows.  Appends add ``rows`` as a new file; a table without
        ``dictionaries/`` gets one schema-bearing (possibly empty) file,
        so ``spark.read.parquet`` on it always sees the one
        DICTIONARY_SCHEMA."""
        import shutil

        from sparrow_ipc_spark.operators import encode_job

        if self.overwrite:
            self.lease.stop_heartbeat()  # no renew may race the clear
            for sub in ("manifest", "dictionaries", "blocks"):
                shutil.rmtree(os.path.join(self.path, sub), ignore_errors=True)
            self.lease.recreate()  # the clear took the lease file with it
            self.lease.start_heartbeat()
        if rows or not os.path.isdir(os.path.join(self.path, "dictionaries")):
            encode_job.write_dict_rows(self.path, rows)

    def land(self, staging: str, files: list[str], tag: str | None = None) -> list[str]:
        """Step 6 for staged writers: move ``files`` (names under
        ``staging``) into ``blocks/`` and drop the staging dir; returns
        the published names.  With a batch ``tag`` (replayable commits)
        the i-th file publishes as ``<tag>-<i>.parquet`` — callers pass
        ``files`` in a deterministic order — and every other file of that
        tag is removed, so a replay of a crashed commit overwrites its own
        files (even when the crashed attempt had more of them) instead of
        leaving duplicates beside them."""
        import shutil

        self.assert_held()
        bd = os.path.join(self.path, "blocks")
        os.makedirs(bd, exist_ok=True)
        names = list(files)
        if tag is not None:
            names = [f"{tag}-{i:05d}.parquet" for i in range(len(files))]
            for f in set(os.listdir(bd)) - set(names):
                if f.startswith(f"{tag}-") and f.endswith(".parquet"):
                    os.remove(os.path.join(bd, f))
        for f, name in zip(files, names):
            os.replace(os.path.join(staging, f), os.path.join(bd, name))
        shutil.rmtree(staging, ignore_errors=True)
        return names

    def publish(self, man_rows: list[dict], schema=None,
                rewrite: bool = False) -> None:
        """Steps 8-10: the segment (or compaction's full ``rewrite``), the
        cursor, and the ``schema`` sidecar.  No rows, no segment."""
        from sparrow_ipc_spark.operators import encode_job

        if man_rows:
            # a long job can outlive the lease: a stolen lease must abort
            # HERE, before publishing over a foreign commit —
            # expect_new_snapshot is the directory-level CAS backstop for
            # the stall window the lease file alone cannot close (skipped
            # when a replay re-publishes its deterministic segment)
            self.lease.assert_owned()
            if rewrite:
                rewrite_manifest(self.path, man_rows)
            else:
                write_segment(self.path, man_rows, self.seg_name,
                              expect_new_snapshot=self.snapshot)
            # re-check: the segment merge can run long, and a cursor must
            # never publish under a lost lease.  write_cursor reconciles
            # against the directory, so a replay of an old micro-batch
            # still publishes a cursor covering every commit
            self.lease.assert_owned()
            write_cursor(self.path, self.snapshot,
                         max(int(r["part_id"]) for r in man_rows))
        if schema is not None:
            encode_job.write_schema_sidecar(self.path, schema)

    def close(self) -> None:
        self.lease.release()

    __enter__ = begin

    def __exit__(self, *exc) -> None:
        self.close()


def row_group_counts(paths: list[str], max_workers: int = 16) -> dict[str, int]:
    """{basename: parquet row-group count} for freshly-committed block
    files — O(batch) footer reads at COMMIT time (threaded), recorded in
    the segment so *plan* time never touches a footer again."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(p: str) -> tuple[str, int]:
        return os.path.basename(p), pq.ParquetFile(p).metadata.num_row_groups

    if not paths:
        return {}
    with ThreadPoolExecutor(min(max_workers, len(paths))) as ex:
        return dict(ex.map(one, paths))
