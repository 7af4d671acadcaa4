"""Crash matrix for the one commit transaction every table writer runs
(``manifest.CommitTransaction``).

Each writer is killed at each commit step of the transaction — right after
its dictionary rows, after its block files land (before the segment), and
after its manifest segment (before the cursor) — by making
``write_dict_rows``, ``write_segment`` or ``write_cursor`` raise.  It is
then recovered the way that writer recovers: the overwrite or resume is
re-run, the micro-batch is replayed under the same batch id by a fresh
encoder, compaction is re-run.  After recovery ``decode_dir`` (via
``roundtrip_report``) and the Data Source reader must both return the
source rows exactly once, bit-identical, from a manifest that maps the
block files on disk one-to-one.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from sparrow_ipc_spark.operators import encode_job
from sparrow_ipc_spark.operators.compact import compact_blocks
from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.encode_job import write_encoded
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.schema import TRANSCRIPTS_SCHEMA
from sparrow_ipc_spark.sources import manifest as M
from sparrow_ipc_spark.sources.datasource import SparrowIPCDataSource, read_encoded
from sparrow_ipc_spark.sources.transcripts import transcripts_df
from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder


class Crash(RuntimeError):
    """The injected kill."""


# step → (module, function, raise after the call instead of at its entry)
STEPS = {
    "after_dictionaries": (encode_job, "write_dict_rows", True),
    "after_blocks": (M, "write_segment", False),
    "after_segment": (M, "write_cursor", False),
}


def _crash_at(mp, step: str) -> None:
    mod, name, after = STEPS[step]
    orig = getattr(mod, name)

    def boom(*a, **k):
        if after:
            orig(*a, **k)
        raise Crash(f"{step} ({name})")

    mp.setattr(mod, name, boom)


def _table(spark, roles: list[str], n: int, first: int = 0):
    """``n`` transcript turns cycling through ``roles`` (conversation
    ids from ``first`` on, three turns each)."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(f"c{(first + i) // 3:04d}", (first + i) % 3, roles[i % len(roles)],
             f"turn {first + i} says {'hello ' * (i % 4)}",
             "search" if i % 5 == 0 else None,
             t0 + datetime.timedelta(seconds=first + i))
            for i in range(n)]
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).cache()


def _assert_exactly_once(spark, df, out: str) -> None:
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"] and rep["text_mismatches"] == 0, rep
    assert read_encoded(spark, out).count() == df.count()
    assert M.committed_block_files(out) is not None


def _decoded_or_none(spark, out: str):
    try:
        return decode_dir(spark, out).collect()
    except Exception:  # failing loudly is an acceptable outcome
        return None


OLD_ROLES, NEW_ROLES = ["assistant", "user"], ["aardvark", "zebra", "user"]


@pytest.fixture(scope="module")
def old_table(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plane_old") / "t")
    write_encoded(spark, _table(spark, OLD_ROLES, 10), out, n_parts=2)
    return out


@pytest.mark.parametrize("step", list(STEPS))
def test_overwrite_crash_then_rerun(spark, tmp_path, old_table, step):
    """An interrupted overwrite never decodes the old rows through the new
    dictionary codes; re-running it gives the new table exactly."""
    out = str(tmp_path / "t")
    shutil.copytree(old_table, out)
    new = _table(spark, NEW_ROLES, 10)
    with pytest.MonkeyPatch.context() as mp:
        _crash_at(mp, step)
        with pytest.raises(Crash):
            write_encoded(spark, new, out, n_parts=2)
    if step == "after_dictionaries":
        # the old table is gone before the new dictionaries exist
        assert not _decoded_or_none(spark, out)
    write_encoded(spark, new, out, n_parts=2)
    _assert_exactly_once(spark, new, out)


@pytest.mark.parametrize("step", list(STEPS))
def test_resume_crash_then_resume(spark, tmp_path, step):
    out = str(tmp_path / "t")
    df = _table(spark, OLD_ROLES, 12)
    with pytest.MonkeyPatch.context() as mp:
        _crash_at(mp, step)
        with pytest.raises(Crash):
            write_encoded(spark, df, out, n_parts=2, resume=True)
    write_encoded(spark, df, out, n_parts=2, resume=True)
    _assert_exactly_once(spark, df, out)


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """A table with one committed micro-batch, plus the next batch (new
    dictionary values, so the crashed commit writes delta rows)."""
    out = str(tmp_path_factory.mktemp("plane_stream") / "t")
    b0 = _table(spark, OLD_ROLES, 12)
    StreamingEncoder(spark, out, n_parts=2).process_batch(b0, 0)
    return out, b0, _table(spark, NEW_ROLES, 12, first=12)


@pytest.mark.parametrize("step", list(STEPS))
def test_stream_batch_crash_then_replay(spark, tmp_path, streamed, step):
    """A micro-batch killed at any commit step and replayed under the same
    batch id by a fresh encoder (driver restart) holds every row once —
    also for the Data Source reader, which decodes every file on disk."""
    base, b0, b1 = streamed
    out = str(tmp_path / "t")
    shutil.copytree(base, out)
    with pytest.MonkeyPatch.context() as mp:
        _crash_at(mp, step)
        with pytest.raises(Crash):
            StreamingEncoder(spark, out, n_parts=2).process_batch(b1, 1)
    StreamingEncoder(spark, out, n_parts=2).process_batch(b1, 1)
    _assert_exactly_once(spark, b0.unionByName(b1), out)


@pytest.fixture(scope="module")
def small_blocks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plane_compact") / "t")
    df = _table(spark, OLD_ROLES, 24)
    enc = StreamingEncoder(spark, out, n_parts=2)
    for i in range(3):
        enc.process_batch(df.where(f"turn_idx = {i}"), i)
    return out, df


@pytest.mark.parametrize("step", ["after_blocks", "after_segment"])
def test_compact_crash_then_rerun(spark, tmp_path, small_blocks, step):
    """Compaction writes no dictionary rows; killed after its directory
    swap or after its manifest rewrite, a re-run leaves the table exact
    with a manifest naming every block file."""
    base, df = small_blocks
    out = str(tmp_path / "t")
    shutil.copytree(base, out)
    with pytest.MonkeyPatch.context() as mp:
        _crash_at(mp, step)
        with pytest.raises(Crash):
            compact_blocks(spark, out, small_rows=10_000)
    compact_blocks(spark, out, small_rows=10_000)
    _assert_exactly_once(spark, df, out)


def test_streamed_table_writes_schema_sidecar(spark, tmp_path):
    """A streamed table with a non-transcript column decodes and compacts
    against its own schema (the sidecar), not TRANSCRIPTS_SCHEMA."""
    out = str(tmp_path / "t")
    df = transcripts_df(spark, n_convs=12, seed=5).selectExpr(
        "*", "case when turn_idx % 2 = 0 then 'en' else 'de' end as lang").cache()
    enc = StreamingEncoder(spark, out, n_parts=2)
    enc.process_batch(df.where("turn_idx % 2 = 0"), 0)
    enc.process_batch(df.where("turn_idx % 2 = 1"), 1)
    assert os.path.isfile(os.path.join(out, "_schema.json"))
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    compact_blocks(spark, out, small_rows=10_000)
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_datasource_then_stream_share_dictionary_schema(spark, tmp_path):
    """The Data Source writer seeds ``dictionaries/`` with the same
    DICTIONARY_SCHEMA every other writer uses, so a later micro-batch's
    delta rows read back beside it in one parquet scan."""
    out = str(tmp_path / "t")
    spark.dataSource.register(SparrowIPCDataSource)
    df = transcripts_df(spark, n_convs=6, seed=3)
    df.write.format("sparrow_ipc").mode("overwrite").save(out)
    StreamingEncoder(spark, out, n_parts=2).process_batch(
        transcripts_df(spark, n_convs=6, seed=4), 0)
    rows = spark.read.parquet(os.path.join(out, "dictionaries")).collect()
    assert {r["col_name"] for r in rows} == {"role", "tool"}
