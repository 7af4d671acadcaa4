"""Per-layer metrics of the traced run.

``install`` puts timing shims on the public entry points of each layer;
``compute`` turns the recorded spans, the Spark event log and the codec
probe into the ``<module>.<metric>`` figures listed in ``NAMES``.  Layers a
workload does not exercise report 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import eventlog
from perfbench.trace import ancestors, op_breakdown, self_time, union_length

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
SPARK = ("jobs", "tasks", "sched_wait_s", "executor_run_s", "executor_cpu_s",
         "gc_s", "py_worker_start_s", "py_run_s", "to_python_bytes",
         "from_python_bytes", "shuffle_bytes", "scan_bytes", "write_bytes",
         "failed_tasks")

NAMES = (
    [f"codecs.{c}.{m}" for c in COLUMNS
     for m in ("encode_ns_per_turn", "candidates_tried", "winner", "margin_bytes")]
    + ["codecs.general_stage_frac", "codecs.fsst_gate_pass_frac",
       "blocks.encode_turns_per_s_core", "blocks.decode_turns_per_s_core",
       "encode_job.dict_build_s", "encode_job.dict_jobs", "encode_job.plan_s",
       "encode_job.write_s",
       "decode_job.plan_s", "decode_job.blocks_read_frac",
       "decode_job.rows_decoded_per_row_returned",
       "datasource.plan_s", "datasource.blocks_read_frac",
       "verify.src_pass_s", "verify.dec_pass_s", "verify.slow_path_runs",
       "manifest.lease_wait_s", "manifest.stamp_s", "manifest.segment_s",
       "manifest.cursor_s", "manifest.segments", "manifest.merges",
       "streaming.dict_update_s", "streaming.delta_dict_rows",
       "compact.busy_s", "compact.rows_moved", "compact.bytes_rewritten",
       "compact.blocks_before", "compact.blocks_after"]
    + [f"spark.{m}" for m in SPARK]
    + ["trace.unaccounted_frac", "trace.overhead_frac"]
)


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    fixed = {"encode_ns_per_turn": "ns", "winner": "id", "margin_bytes": "B",
             "bytes_rewritten": "B", "rows_decoded_per_row_returned": "ratio"}
    if leaf in fixed:
        return fixed[leaf]
    for suffix, unit in (("_frac", "ratio"), ("_s", "s"), ("_core", "1/s"),
                         ("_bytes", "B")):
        if leaf.endswith(suffix):
            return unit
    return "count"


def install(patcher) -> None:
    """Shim every layer entry point.  ``state`` carries what one shim
    learns for another: which verify pass is the source side, and whether
    a segment merge ran."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sparrow_ipc_spark.operators import compact, decode_job, encode_job, verify
    from sparrow_ipc_spark.sources import datasource, manifest
    from sparrow_ipc_spark.streaming import encode_stream

    state = {"verify_src": None, "merged": False}
    fn = patcher.function

    fn(encode_job, "write_encoded", "encode_job.write_encoded")
    fn(encode_job, "build_global_dicts", "encode_job.dict_build")
    fn(encode_job, "encode_transcripts", "encode_job.plan")
    fn(encode_job, "write_dict_rows", "encode_job.dict_write")
    patcher.method(DataFrameWriter, "parquet", "io.parquet_write")

    fn(manifest, "acquire_commit_lease", "manifest.lease")
    fn(manifest, "manifest_rows_for_new_files", "manifest.stamp")
    fn(manifest, "write_segment", "manifest.segment")
    fn(manifest, "rewrite_manifest", "manifest.segment")
    fn(manifest, "write_cursor", "manifest.cursor")
    fn(manifest, "committed_state", "manifest.read")
    fn(manifest, "read_manifest_rows", "manifest.read")
    fn(manifest, "vacuum_orphan_blocks", "manifest.vacuum")

    def merge_around(orig):
        def merge(d, *a, **k):
            before = len(manifest._segment_files(d))
            out = orig(d, *a, **k)
            state["merged"] = len(manifest._segment_files(d)) < before
            return out
        return merge

    fn(manifest, "_maybe_merge_segments", "manifest.merge",
       on_call=lambda sp, a, k, out: sp.attrs.update(merged=state["merged"]),
       around=merge_around)

    fn(decode_job, "decode_dir", "decode_job.plan")
    fn(datasource, "read_encoded", "datasource.plan")

    def report_around(orig):
        def report(src, dec):
            state["verify_src"] = id(src)
            return orig(src, dec)
        return report

    fn(verify, "roundtrip_report", "verify.report", around=report_around)
    fn(verify, "_fingerprint_pass", "verify.pass",
       on_call=lambda sp, a, k, out: sp.attrs.update(
           side="src" if id(a[0]) == state["verify_src"] else "dec"))
    fn(verify, "_hashed_rows", "verify.slow_path")

    enc = encode_stream.StreamingEncoder
    patcher.method(enc, "process_batch", "streaming.process_batch")
    patcher.method(enc, "_update_dictionaries", "streaming.dict_update",
                   on_call=lambda sp, a, k, out: sp.attrs.update(rows=len(out)))
    fn(compact, "compact_blocks", "compact.compact",
       on_call=lambda sp, a, k, out: sp.attrs.update(result=dict(out)))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(spans, ops, log, cycles: int, probe: dict | None,
            untraced: dict) -> tuple[dict, dict]:
    """(metrics, breakdown).  ``ops`` are the traced op records
    ``(opname, root_span, result, zone)``; ``untraced`` maps op name to the
    untraced walls of the same run."""
    cyc = max(1, cycles)
    by_id = {s.sid: s for s in spans}
    named: dict[str, list] = defaultdict(list)
    for s in spans:
        named[s.name].append(s)

    def total(name):
        return sum(s.dur for s in named[name])

    def jobs_during(name):
        return eventlog.jobs_in(log, [(s.start, s.end) for s in named[name]])

    m: dict[str, float] = dict.fromkeys(NAMES, 0.0)
    if probe:
        m.update(probe)

    m["encode_job.dict_build_s"] = total("encode_job.dict_build") / cyc
    m["encode_job.dict_jobs"] = len(jobs_during("encode_job.dict_build")) / cyc
    m["encode_job.plan_s"] = sum(
        self_time(s, [k for k in spans if k.parent == s.sid])
        for s in named["encode_job.plan"]) / cyc
    writers = {"encode_job.write_encoded", "streaming.process_batch"}
    m["encode_job.write_s"] = sum(
        s.dur for s in named["io.parquet_write"]
        if any(a.name in writers for a in ancestors(s, by_id))) / cyc

    def has(root, name):
        return any(s.op == root.sid and s.name == name for s in spans)

    m["decode_job.plan_s"] = _mean(s.dur for s in named["decode_job.plan"])
    look = [(r, z) for op, root, r, z in ops
            if op == "lookup" and z and has(root, "decode_job.run")]
    m["decode_job.blocks_read_frac"] = _mean(z[0] for _, z in look)
    m["decode_job.rows_decoded_per_row_returned"] = _mean(
        z[1] / max(1, r["rows"]) for r, z in look)

    # Data Source planning runs in a Python planner process, out of the
    # shims' reach: take the op wall its Spark jobs do not cover
    ds_plan = []
    for op, root, _, _ in ops:
        if has(root, "datasource.run"):
            js = eventlog.jobs_in(log, [(root.start, root.end)])
            ds_plan.append(root.dur - union_length(
                [(j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3) for j in js]))
    m["datasource.plan_s"] = _mean(ds_plan)
    m["datasource.blocks_read_frac"] = _mean(
        z[0] for op, root, _, z in ops
        if op == "lookup" and z and has(root, "datasource.run"))

    passes = named["verify.pass"]
    m["verify.src_pass_s"] = _mean(s.dur for s in passes if s.attrs.get("side") == "src")
    m["verify.dec_pass_s"] = _mean(s.dur for s in passes if s.attrs.get("side") == "dec")
    m["verify.slow_path_runs"] = len(named["verify.slow_path"]) / 2 / cyc

    m["manifest.lease_wait_s"] = total("manifest.lease") / cyc
    m["manifest.stamp_s"] = total("manifest.stamp") / cyc
    m["manifest.segment_s"] = total("manifest.segment") / cyc
    m["manifest.cursor_s"] = total("manifest.cursor") / cyc
    m["manifest.segments"] = len(named["manifest.segment"]) / cyc
    m["manifest.merges"] = sum(bool(s.attrs.get("merged"))
                               for s in named["manifest.merge"]) / cyc

    m["streaming.dict_update_s"] = total("streaming.dict_update") / cyc
    m["streaming.delta_dict_rows"] = sum(
        s.attrs.get("rows", 0) for s in named["streaming.dict_update"]) / cyc

    comp = named["compact.compact"]
    m["compact.busy_s"] = total("compact.compact") / cyc
    res = [s.attrs.get("result", {}) for s in comp]
    m["compact.rows_moved"] = sum(r.get("rows_moved", 0) for r in res) / cyc
    m["compact.bytes_rewritten"] = eventlog.aggregate(
        log, jobs_during("compact.compact"))["write_bytes"] / cyc
    m["compact.blocks_before"] = _mean(r.get("before", 0) for r in res)
    m["compact.blocks_after"] = _mean(r.get("after", 0) for r in res)

    windows = [(root.start, root.end) for _, root, _, _ in ops]
    agg = eventlog.aggregate(log, eventlog.jobs_in(log, windows))
    for k in SPARK:
        m[f"spark.{k}"] = agg[k] / cyc

    breakdown = _breakdown(spans, ops, log)
    walls = sum(b["wall"] for b in breakdown.values())
    m["trace.unaccounted_frac"] = (
        sum(b["unaccounted"] for b in breakdown.values()) / walls if walls else 0.0)
    tr = [statistics.median([root.dur for o, root, _, _ in ops if o == op])
          for op in breakdown if untraced.get(op)]
    un = [statistics.median(untraced[op]) for op in breakdown if untraced.get(op)]
    m["trace.overhead_frac"] = sum(tr) / sum(un) - 1.0 if un else 0.0
    for op, b in breakdown.items():
        b["untraced_median"] = statistics.median(untraced[op]) if untraced.get(op) else None
    return m, breakdown


def _breakdown(spans, ops, log) -> dict:
    """Per op type: mean wall, mean self time per layer, unaccounted,
    overlap and Spark jobs per op (sums, so the identity holds on means)."""
    acc: dict[str, dict] = {}
    for op, root, _, _ in ops:
        b = op_breakdown(spans, root)
        a = acc.setdefault(op, {"n": 0, "wall": 0.0, "layers": defaultdict(float),
                                "unaccounted": 0.0, "overlap": 0.0, "jobs": 0})
        a["n"] += 1
        a["wall"] += b["wall"]
        a["unaccounted"] += b["unaccounted"]
        a["overlap"] += b["overlap"]
        a["jobs"] += len(eventlog.jobs_in(log, [(root.start, root.end)]))
        for k, v in b["layers"].items():
            a["layers"][k] += v
    for a in acc.values():
        n = a["n"]
        for k in ("wall", "unaccounted", "overlap", "jobs"):
            a[k] /= n
        a["layers"] = {k: v / n for k, v in sorted(a["layers"].items())}
    return acc
