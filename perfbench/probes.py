"""In-process probes of the codec and block layers.

Encode and decode run inside Spark's Python workers, where driver-side
shims cannot reach, so the traced run replays one batch sliced from the
workload's own input through ``blocks.encode_batch_arrow`` and
``blocks.decode_block`` in this process, with counting shims on the
selector and codec entry points.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

# winner codec -> the number reported as codecs.<col>.winner
CODEC_IDS = {name: i for i, name in enumerate(
    ("raw", "dict", "dict_local", "rle", "fsst", "for_bitpack", "float_shuffle",
     "dec_for", "list", "fixed_list", "struct"))}

REPS = 3


class _TimedCodec:
    """Stands in for one general-stage (zstd/lz4) codec object, timing its
    compress calls."""

    def __init__(self, inner, acc: list) -> None:
        self._inner, self._acc = inner, acc

    def compress(self, *a, **k):
        t0 = time.perf_counter_ns()
        try:
            return self._inner.compress(*a, **k)
        finally:
            self._acc[0] += time.perf_counter_ns() - t0

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _global_dicts(batch, cols):
    import pyarrow as pa
    import pyarrow.compute as pc

    from sparrow_ipc_spark.operators import encode_job

    payload, rows = {}, []
    for c in cols:
        vals = sorted(v for v in pc.unique(batch.column(c)).to_pylist() if v is not None)
        payload[c] = {"dict_id": encode_job.dict_id_for(c),
                      "values": pa.array(vals, type=pa.string())}
        rows.append(encode_job.dict_row_for_values(c, vals, 0, False))
    return payload, rows


def codec_probe(table) -> dict:
    """Per-column and block-level figures for one batch (a pyarrow Table)."""
    from sparrow_ipc_spark.codecs import base, selector
    from sparrow_ipc_spark.operators import blocks, decode_job, encode_job

    batch = table.combine_chunks().to_batches()[0]
    fields = encode_job.TRANSCRIPT_FIELDS
    gdicts, dict_rows = _global_dicts(batch, encode_job.DEFAULT_DICT_COLS)
    ctx = {"global_dicts": gdicts}
    n = batch.num_rows

    col_ns: dict[str, list] = defaultdict(list)
    cands: dict[str, int] = defaultdict(int)
    winners: dict[str, str] = {}
    gate = [0, 0]  # calls, passes
    general_ns = [0]
    cur = [None]

    orig_sel, orig_enc, orig_gate = (selector.select_and_encode,
                                     base.encode_column, selector._fsst_sample_gate)
    orig_codecs = dict(base._PA_CODECS)

    def sel(arr, c):
        cur[0] = c.get("col_name")
        t0 = time.perf_counter_ns()
        choice = orig_sel(arr, c)
        col_ns[cur[0]].append(time.perf_counter_ns() - t0)
        winners[cur[0]] = choice.encoded.codec
        return choice

    def enc(codec, arr, c=None):
        cands[cur[0]] += 1
        return orig_enc(codec, arr, c)

    def gate_fn(arr):
        ok = orig_gate(arr)
        gate[0] += 1
        gate[1] += int(ok)
        return ok

    encode_ns, decode_ns, row = [], [], None
    try:
        selector.select_and_encode, base.encode_column = sel, enc
        selector._fsst_sample_gate = gate_fn
        for k, v in orig_codecs.items():
            base._PA_CODECS[k] = _TimedCodec(v, general_ns)
        for _ in range(REPS):
            t0 = time.perf_counter_ns()
            row = blocks.encode_batch_arrow(batch, fields, ctx, 0, 0)
            encode_ns.append(time.perf_counter_ns() - t0)
    finally:
        selector.select_and_encode, base.encode_column = orig_sel, orig_enc
        selector._fsst_sample_gate = orig_gate
        base._PA_CODECS.clear()
        base._PA_CODECS.update(orig_codecs)

    dctx = {"dict_values": decode_job.load_dict_values(dict_rows)}
    for _ in range(REPS):
        t0 = time.perf_counter_ns()
        blocks.decode_block(row, dctx)
        decode_ns.append(time.perf_counter_ns() - t0)

    out: dict[str, float] = {}
    for name, logical in fields:
        arr = blocks._canonical(batch.column(name), blocks.arrow_type_of(logical))
        out[f"codecs.{name}.encode_ns_per_turn"] = statistics.median(col_ns[name]) / n
        out[f"codecs.{name}.candidates_tried"] = cands.get(name, 0) / REPS
        out[f"codecs.{name}.winner"] = float(CODEC_IDS.get(winners[name], -1))
        out[f"codecs.{name}.margin_bytes"] = float(
            _margin(arr, {**ctx, "col_name": name}, row, name))
    total_ns = sum(encode_ns)
    out["codecs.general_stage_frac"] = general_ns[0] / total_ns if total_ns else 0.0
    out["codecs.fsst_gate_pass_frac"] = gate[1] / gate[0] if gate[0] else 0.0
    out["blocks.encode_turns_per_s_core"] = n / (statistics.median(encode_ns) / 1e9)
    out["blocks.decode_turns_per_s_core"] = n / (statistics.median(decode_ns) / 1e9)
    return {"metrics": out, "winners": winners}


def _margin(arr, ctx, row, col) -> int:
    """Exact framed bytes of the best candidate the selector did NOT pick,
    minus the winner's framed bytes; 0 when there was no other candidate."""
    from sparrow_ipc_spark.codecs import base, selector

    idx = next(i for i, c in enumerate(row["columns"]) if c["name"] == col)
    winner = row["columns"][idx]["codec"]
    won = sum(b["comp_len"] for b in row["buffers"] if b["col_idx"] == idx)
    cands = selector.candidates_for(arr, ctx)
    if any(c == "fsst" for c, _ in cands) and not selector._fsst_sample_gate(arr):
        cands = [(c, e) for c, e in cands if c != "fsst"]
    sizes: list[tuple[str, int]] = []
    for codec, extra in cands:
        enc = base.encode_column(codec, arr, {**ctx, **extra})
        if enc is not None:
            sizes.append((codec, sum(len(fb) for _, _, fb in selector.frame_buffers(enc))))
    mine = [i for i, (c, _) in enumerate(sizes) if c == winner]
    if mine:  # drop the winner's own trial (the closest in size, for variants)
        sizes.pop(min(mine, key=lambda i: abs(sizes[i][1] - won)))
    return min(nb for _, nb in sizes) - won if sizes else 0
