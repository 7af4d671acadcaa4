"""The two workloads.  Each is a closed loop (one client, one op at a time)
over identical *cycles* of ops — write, point lookup, full scan, verify,
plus a compaction on ``ingest`` — so every end-to-end metric is defined on
both.  They differ in how the table is written and which read surface its
user reads it through:

* ``bulk`` — batch user.  A clustered 120k-turn table is rewritten
  by one ``write_encoded`` job per cycle (one commit, a few large blocks)
  and read through ``decode_dir``.
* ``ingest`` — live-table user.  Each cycle restores a one-batch base
  table, commits one 12.5k-turn micro-batch through
  ``StreamingEncoder.process_batch`` (hashed/salted shuffle; the batch
  comes from another generator seed, so its new ``tool`` values arrive as
  delta dictionaries), compacts with ``compact_blocks``, then reads through
  the Spark Data Source (``read_encoded``).

Every op returns its own correctness verdict.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

LOOKUP_COLS = ["conv_id", "turn_idx", "text"]

# fixed job shape: never derived from the host's core count
N_PARTS = 8
SHUFFLE_PARTITIONS = 8
ARROW_BATCH_ROWS = 65536
SCAN_SPLIT_BYTES = 8 << 20

BULK_TURNS = 40_000  # ~2.3k conversations
BATCH_TURNS = 12_500  # ~700 conversations per micro-batch
# The generator's vocabulary is fixed, so every --seed draws conversations
# from the same corpus and bytes/turn compares across seeds; --seed picks
# which conversations.  The ingest batch uses a second generator seed.
# Tables hold whole conversations up to a fixed turn count, so every seed
# does the same amount of work.
GEN_SEED, ALT_GEN_SEED = 42, 42 + 7919
SEED_STRIDE = 100_000  # conversation indices reserved per --seed


def gen_table(path: str, gen_seed: int, first_idx: int, turns: int,
              files: int = 1) -> int:
    """Write the whole conversations ``first_idx, first_idx + 1, ..`` of the
    transcript generator that fit in ``turns`` turns to ``files`` parquet
    files (contiguous, so clustered by conversation).  Returns the number
    of conversations written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from sparrow_ipc_spark.schema import TRANSCRIPTS_SCHEMA
    from sparrow_ipc_spark.sources.transcripts import GenContext

    ctx = GenContext(gen_seed)
    chunks, rows, idx = [], 0, first_idx
    while rows <= turns:
        chunks.append(ctx.batch(np.arange(idx, idx + 256)))
        rows += chunks[-1].num_rows
        idx += 256
    t = pa.Table.from_batches(chunks).cast(to_arrow_schema(TRANSCRIPTS_SCHEMA))
    starts = np.flatnonzero(t["turn_idx"].to_numpy() == 0)  # conversation starts
    starts = starts[starts <= turns]  # the last one ends the kept prefix
    # file boundaries: the conversation starts nearest equal turn counts
    cuts = [starts[np.abs(starts - i * starts[-1] / files).argmin()]
            for i in range(files + 1)]
    if files > 1:
        os.makedirs(path, exist_ok=True)
    for i in range(files):
        out = f"{path}/part-{i:03d}.parquet" if files > 1 else path
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), out)
    return len(starts) - 1


def read_parquet(paths: list[str], columns: list[str]):
    """Files or directories of parquet, concatenated (pyarrow, no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables(pq.read_table(p, columns=columns) for p in paths)


def rows_digest(rows) -> tuple[int, str]:
    """(count, sha256) of (turn_idx, text) pairs, order-insensitive."""
    h = hashlib.sha256()
    pairs = sorted((int(t), x) for t, x in rows)
    for t, x in pairs:
        h.update(f"{t}\x1f{x!r}\n".encode())
    return len(pairs), h.hexdigest()


def expected_lookups(paths: list[str], keys: list[str]) -> dict:
    """conv_id -> (count, digest), computed from the source parquet."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = read_parquet(paths, LOOKUP_COLS)
    t = t.filter(pc.is_in(t["conv_id"], value_set=pa.array(keys)))
    by: dict[str, list] = {k: [] for k in keys}
    for c, ti, x in zip(*(t[c].to_pylist() for c in LOOKUP_COLS)):
        by[c].append((ti, x))
    return {k: rows_digest(v) for k, v in by.items()}


def check_lookup(rows, key: str, expected: dict) -> bool:
    if any(r["conv_id"] != key for r in rows):
        return False
    return rows_digest((r["turn_idx"], r["text"]) for r in rows) == expected[key]


def zone_stats(table: str, key: str) -> tuple[float, int]:
    """(share of blocks whose conv_id zone map admits ``key``, rows in those
    blocks) — what a zone-map-pruned point lookup must decode."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{table}/blocks", columns=["conv_min", "conv_max", "n_rows"])
    lo, hi, n = (t[c].to_pylist() for c in ("conv_min", "conv_max", "n_rows"))
    hit = [i for i in range(len(n))
           if lo[i] is None or hi[i] is None or lo[i] <= key <= hi[i]]
    return len(hit) / max(1, len(n)), sum(n[i] for i in hit)


def report_ok(rep: dict, turns: int) -> bool:
    return (bool(rep["all_columns_identical"]) and rep["text_mismatches"] == 0
            and int(rep["rows_src"]) == turns)


class Workload:
    sized_by = "write"  # the op whose result carries the table's bytes/turn

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.t = tracer
        self.rng = random.Random(seed)

    def begin_cycle(self, c: int) -> None:
        """Untimed preparation before cycle ``c``'s ops."""

    def warm_extra(self) -> list:
        """Ops run once after the warm-up cycle, untimed."""
        return []

    def metrics(self, recs: list) -> dict:
        """End-to-end metric samples from ``(cycle, op, wall_s, result)``."""
        def of(op):
            return [(w, r) for _, o, w, r in recs if o == op]

        return {
            "write_ms": [w * 1e3 for w, _ in of("write")],
            "write_turns_per_s": self.write_throughput(recs),
            "lookup_ms": [w * 1e3 for w, _ in of("lookup")],
            "scan_turns_per_s": [r["turns"] / w for w, r in of("scan")],
            "verify_turns_per_s": [r["turns"] / w for w, r in of("verify")],
            "bytes_per_turn": [r["bytes_per_turn"] for _, r in of(self.sized_by)],
        }

    def write_throughput(self, recs: list) -> list:
        return [r["turns"] / w for _, op, w, r in recs if op == "write"]


class Bulk(Workload):
    """Batch user: rewrite the whole table, read it with ``decode_dir``."""

    def setup(self) -> None:
        """Generate the seeded source table (N_PARTS clustered files)."""
        self.src, self.table = f"{self.work}/src", f"{self.work}/enc"
        shutil.rmtree(self.src, ignore_errors=True)
        gen_table(self.src, GEN_SEED, self.seed * SEED_STRIDE, BULK_TURNS,
                  files=N_PARTS)

    def prepare(self) -> None:
        ids = read_parquet([self.src], ["conv_id"])["conv_id"]
        self.turns = len(ids)
        convs = sorted(set(ids.to_pylist()))
        self.keys = [self.rng.choice(convs) for _ in range(64)]
        self.expected = expected_lookups([self.src], sorted(set(self.keys)))
        self.src_df = self.spark.read.parquet(self.src)
        self.bpt = None

    def probe_batch(self):
        import pyarrow.parquet as pq

        return pq.read_table(self.src).slice(0, ARROW_BATCH_ROWS)

    def op_write(self) -> dict:
        from sparrow_ipc_spark.operators import encode_job

        st = encode_job.write_encoded(self.spark, self.src_df, self.table,
                                      n_parts=N_PARTS, clustered=True)
        bpt = st["enc_bytes"] / max(1, st["rows"])
        # re-encoding the same input must give the same bytes every time
        ok = int(st["rows"]) == self.turns and self.bpt in (None, bpt)
        self.bpt = bpt
        return {"ok": ok, "turns": int(st["rows"]), "bytes_per_turn": bpt}

    def op_lookup(self, key: str) -> dict:
        from sparrow_ipc_spark.operators import decode_job

        df = decode_job.decode_dir(self.spark, self.table, conv_id=key,
                                   columns=LOOKUP_COLS)
        with self.t.span("decode_job.run"):
            rows = df.collect()
        return {"ok": check_lookup(rows, key, self.expected), "rows": len(rows),
                "key": key, "table": self.table}

    def op_scan(self) -> dict:
        from sparrow_ipc_spark.operators import decode_job

        df = decode_job.decode_dir(self.spark, self.table)
        with self.t.span("decode_job.run"):
            df.write.format("noop").mode("overwrite").save()
        return {"ok": True, "turns": self.turns}

    def op_verify(self) -> dict:
        from sparrow_ipc_spark.operators import decode_job, verify

        rep = verify.roundtrip_report(self.src_df,
                                      decode_job.decode_dir(self.spark, self.table))
        return {"ok": report_ok(rep, self.turns), "turns": self.turns}

    def warm_extra(self) -> list:
        # a fresh JVM's first few rewrites each run faster than the last
        return [("write", self.op_write)]

    def cycle(self, c: int) -> list:
        k1, k2 = (self.keys[(2 * c + i) % len(self.keys)] for i in (0, 1))
        return [("write", self.op_write), ("lookup", lambda: self.op_lookup(k1)),
                ("scan", self.op_scan), ("lookup", lambda: self.op_lookup(k2)),
                ("verify", self.op_verify)]


class Ingest(Workload):
    """Live-table user: a micro-batch commit and a compaction, then reads
    through the Spark Data Source.  Each cycle restores the base table, so
    every cycle commits into a table of the same size and the figures do
    not drift with how many cycles a run fits."""

    sized_by = "compact"

    def setup(self) -> None:
        """Generate the two micro-batches (driver-side, no Spark job): the
        base table's, and the one every cycle commits, from the second
        generator seed so its new ``tool`` values arrive as delta
        dictionaries."""
        pool = f"{self.work}/pool"
        shutil.rmtree(pool, ignore_errors=True)
        os.makedirs(pool)
        first = self.seed * SEED_STRIDE
        self.base_src, self.batch = f"{pool}/base.parquet", f"{pool}/batch.parquet"
        n = gen_table(self.base_src, GEN_SEED, first, BATCH_TURNS)
        gen_table(self.batch, ALT_GEN_SEED, first + n, BATCH_TURNS)

    def prepare(self) -> None:
        """Make the base table (one committed micro-batch) and the expected
        lookup results."""
        from sparrow_ipc_spark.streaming import encode_stream

        self.base, self.table = f"{self.work}/base", f"{self.work}/live"
        enc = encode_stream.StreamingEncoder(self.spark, self.base, n_parts=N_PARTS)
        enc.process_batch(self.spark.read.parquet(self.base_src), 0)
        self.paths = [self.base_src, self.batch]
        ids = read_parquet(self.paths, ["conv_id"])["conv_id"]
        self.turns = len(ids)
        self.batch_turns = len(read_parquet([self.batch], ["conv_id"]))
        convs = sorted(set(ids.to_pylist()))
        self.keys = [self.rng.choice(convs) for _ in range(64)]
        self.expected = expected_lookups(self.paths, sorted(set(self.keys)))

    def probe_batch(self):
        import pyarrow.parquet as pq

        return pq.read_table(self.batch)

    def warm_extra(self) -> list:
        # a fresh JVM's first few commits each run faster than the last
        def rewrite():
            self.begin_cycle(-2)
            return self.op_write()
        return [("write", rewrite)]

    def begin_cycle(self, c: int) -> None:
        from sparrow_ipc_spark.streaming import encode_stream

        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.base, self.table)
        # a restarted encoder rebuilds its dictionary state from the table
        self.enc = encode_stream.StreamingEncoder(self.spark, self.table,
                                                  n_parts=N_PARTS)

    def op_write(self) -> dict:
        from sparrow_ipc_spark.sources import manifest

        self.enc.process_batch(self.spark.read.parquet(self.batch), 1)
        n = sum(int(r["n_rows"]) for r in manifest.read_manifest_rows(self.table))
        return {"ok": n == self.turns, "turns": self.batch_turns}

    def op_compact(self) -> dict:
        from sparrow_ipc_spark.operators import compact
        from sparrow_ipc_spark.sources import manifest

        res = compact.compact_blocks(self.spark, self.table)
        rows = manifest.read_manifest_rows(self.table)
        n = sum(int(r["n_rows"]) for r in rows)
        return {"ok": n == self.turns and res["after"] <= res["before"],
                "bytes_per_turn": sum(int(r["enc_bytes"]) for r in rows) / max(1, n)}

    def op_lookup(self, key: str) -> dict:
        from pyspark.sql import functions as F

        from sparrow_ipc_spark.sources import datasource

        df = datasource.read_encoded(self.spark, self.table)
        with self.t.span("datasource.run"):
            rows = df.where(F.col("conv_id") == key).select(*LOOKUP_COLS).collect()
        return {"ok": check_lookup(rows, key, self.expected), "rows": len(rows),
                "key": key, "table": self.table}

    def op_scan(self) -> dict:
        from pyspark.sql import functions as F

        from sparrow_ipc_spark.sources import datasource

        df = datasource.read_encoded(self.spark, self.table)
        with self.t.span("datasource.run"):
            n = df.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        return {"ok": int(n) == self.turns, "turns": self.turns}

    def op_verify(self) -> dict:
        from sparrow_ipc_spark.operators import verify
        from sparrow_ipc_spark.sources import datasource

        rep = verify.roundtrip_report(self.spark.read.parquet(*self.paths),
                                      datasource.read_encoded(self.spark, self.table))
        return {"ok": report_ok(rep, self.turns), "turns": self.turns}

    def cycle(self, c: int) -> list:
        k1, k2 = (self.keys[(2 * c + i) % len(self.keys)] for i in (0, 1))
        return [("write", self.op_write), ("compact", self.op_compact),
                ("lookup", lambda: self.op_lookup(k1)), ("scan", self.op_scan),
                ("lookup", lambda: self.op_lookup(k2)), ("verify", self.op_verify)]

    def write_throughput(self, recs: list) -> list:
        """Turns committed per second of write wall, compaction included:
        one sample per cycle whose commit and compaction both ran."""
        out = []
        for c in sorted({c for c, op, _, _ in recs if op == "write"}):
            ops = {op: (w, r) for cc, op, w, r in recs if cc == c}
            if "write" in ops and "compact" in ops:
                out.append(ops["write"][1]["turns"]
                           / (ops["write"][0] + ops["compact"][0]))
        return out


WORKLOADS = {"bulk": Bulk, "ingest": Ingest}
