"""Block compaction: micro-batch appends leave small blocks; compaction
merges them without touching dictionaries, and the decoded table stays
bit-identical."""

from __future__ import annotations

from sparrow_ipc_spark.operators.compact import compact_blocks
from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.sources.transcripts import transcripts_df
from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder


def test_compact_merges_small_blocks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact"))
    df = transcripts_df(spark, n_convs=60, seed=42).cache()
    enc = StreamingEncoder(spark, out, n_parts=4)
    # 4 micro-batches × 4 parts → 16 small blocks
    for i in range(4):
        enc.process_batch(df.where(f"pmod(crc32(conv_id), 4) = {i}"), i)

    blocks_before = spark.read.parquet(f"{out}/blocks").count()
    dicts_before = sorted(
        (r["dict_id"], r["version"], r["n_values"])
        for r in spark.read.parquet(f"{out}/dictionaries").collect()
    )
    stats = compact_blocks(spark, out, small_rows=10_000, target_rows=65_536)
    assert stats["compacted"] == blocks_before
    assert stats["after"] < stats["before"]

    # dictionaries untouched — codes preserved
    dicts_after = sorted(
        (r["dict_id"], r["version"], r["n_values"])
        for r in spark.read.parquet(f"{out}/dictionaries").collect()
    )
    assert dicts_before == dicts_after

    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0

    # idempotent: nothing small remains at this threshold (single big block)
    again = compact_blocks(spark, out, small_rows=2, target_rows=65_536)
    assert again["compacted"] == 0


def _encode_with_leftovers(spark, out):
    """A 4-part table plus a byte-identical ``dup-*`` copy of every block
    file — the unmanifested leftovers of a crash between block append and
    manifest commit."""
    import os
    import shutil

    from sparrow_ipc_spark.operators.encode_job import write_encoded

    df = transcripts_df(spark, n_convs=60, seed=42).cache()
    write_encoded(spark, df, out, n_parts=4)
    bdir = os.path.join(out, "blocks")
    for f in os.listdir(bdir):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(bdir, f), os.path.join(bdir, "dup-" + f))
    return df


def test_compact_ignores_unmanifested_leftovers(spark, tmp_path_factory):
    """Compaction must rewrite committed state only: leftovers beside the
    committed files are vacuumed under the lease, never re-encoded into
    committed blocks (which decode would then return twice)."""
    out = str(tmp_path_factory.mktemp("compact_leftovers"))
    df = _encode_with_leftovers(spark, out)
    n = df.count()
    assert decode_dir(spark, out).count() == n
    compact_blocks(spark, out, small_rows=10_000, target_rows=65_536)
    assert decode_dir(spark, out).count() == n
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_compact_dedupes_leftovers_without_file_map(spark, tmp_path_factory):
    """Where the vacuum guard refuses (legacy manifest rows without a
    ``file`` mapping), compaction applies decode's byte-identical block
    dedupe before reading, so the rewrite still holds every row once."""
    from sparrow_ipc_spark.sources import manifest as M

    out = str(tmp_path_factory.mktemp("compact_legacy_leftovers"))
    df = _encode_with_leftovers(spark, out)
    rows = M.read_manifest_rows(out)
    for r in rows:
        r["file"] = r["file_row_groups"] = None
    M.rewrite_manifest(out, rows)
    assert M.committed_block_files(out) is None
    compact_blocks(spark, out, small_rows=10_000, target_rows=65_536)
    assert decode_dir(spark, out).count() == df.count()
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
