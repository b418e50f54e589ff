"""keyed_stream workload: the three keyed streaming operators, called with
``engine=None`` as a user calls them (all three auto-select the
transformWithState engine).

For each operator a bulk generation fills the state store with ``keys``
keys in one drain (the load), then ``updates`` single-key generations are
released and one resumed drain over the same checkpoint and state
directory runs them as single-key microbatches (the updates).  Every
generation is staged during set-up with ``testing.stage_generation_file``,
the engine's own staging protocol.  The update generations are staged into
a side directory and moved into the source directory between the two
drains, so the load drain cannot see them.

The seed picks which keys are updated, their new values and the as-of probe
times.  Each operator's final output is compared with the closed form the
generator knows.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics

from pyspark.sql import functions as F

from pyspark_engine import StreamBuilder as BatchBuilder
from pyspark_engine.streaming import (
    StreamingBuilder,
    join_table_asof_streaming,
    join_tables_streaming,
    suppress_buffered,
)
from pyspark_engine.testing import stage_generation_file

BASE = dt.datetime(2024, 1, 1)
HOUR = dt.timedelta(hours=1)
_MIX = 997  # key weight modulus for the checksums: catches values moved between keys


def _dec(c):
    return c.cast("decimal(38,0)")


class Operator:
    """One operator's inputs, drains and closed-form check, rooted at
    ``root``.  Subclasses define ``stage``, ``drain`` and ``check``."""

    name = ""

    def __init__(self, spark, root: str, keys: int, updates: int, rng: random.Random):
        self.spark = spark
        self.root = root
        self.keys = keys
        self.updates = updates
        self.rng = rng
        self.src = os.path.join(root, "src")
        self.pending = os.path.join(root, "pending")
        self.ckpt = os.path.join(root, "ckpt")
        self.state = os.path.join(root, "state")
        self.sb = StreamingBuilder(spark)
        self.loaded_rows = keys

    def release_updates(self) -> None:
        """Move the staged update generations into the source directory
        (a rename keeps each file's stamped mtime, so they drain in order)."""
        if not os.path.isdir(self.pending):
            return
        for f in sorted(os.listdir(self.pending)):
            if f.startswith("gen-"):
                os.rename(os.path.join(self.pending, f), os.path.join(self.src, f))

    def stage_updates(self, rows: list[tuple], schema: str) -> None:
        """Stage one single-row generation per update, numbered after the
        bulk generation 0."""
        for seq, row in enumerate(rows, start=1):
            stage_generation_file(self.spark.createDataFrame([row], schema), self.pending, seq)


class TTJoin(Operator):
    """KTable⋈KTable changelog join (join_tables_streaming), inner."""

    name = "ttjoin"

    def stage(self) -> None:
        n = self.keys
        self.lsrc, self.rsrc = self.src, os.path.join(self.root, "rsrc")
        stage_generation_file(
            self.spark.range(n).select(
                F.col("id").alias("k"), F.col("id").alias("lv"), F.lit(0).cast("long").alias("lo")
            ),
            self.lsrc,
            0,
        )
        stage_generation_file(
            self.spark.range(n).select(
                F.col("id").alias("rk"),
                (F.col("id") * 2 + 1).alias("rv"),
                F.lit(0).cast("long").alias("ro"),
            ),
            self.rsrc,
            0,
        )
        self.loaded_rows = 2 * n
        self.final = {}
        rows = []
        for i in range(1, self.updates + 1):
            k, v = self.rng.randrange(n), self.rng.randrange(10**9)
            rows.append((k, v, i))
            self.final[k] = v
        self.stage_updates(rows, "k long, lv long, lo long")

    def drain(self):
        return join_tables_streaming(
            self.sb.file_stream(self.lsrc, key="k", max_files_per_trigger=1),
            self.sb.file_stream(self.rsrc, key="rk"),
            how="inner",
            l_order=("lo",),
            r_order=("ro",),
            state_dir=self.state,
            checkpoint=self.ckpt,
        )

    def expected(self) -> dict:
        n = self.keys
        lv = {k: k for k in range(n)} | self.final
        return {
            "rows": n,
            "lv": sum(lv.values()),
            "lv_mix": sum(v * (k % _MIX + 1) for k, v in lv.items()),
            "rv": sum(2 * k + 1 for k in range(n)),
        }

    def check(self, result) -> list[str]:
        r = result.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(_dec(F.col("lv"))).alias("lv"),
            F.sum(_dec(F.col("lv")) * _dec(F.col("k") % _MIX + 1)).alias("lv_mix"),
            F.sum(_dec(F.col("rv"))).alias("rv"),
        ).first()
        want = self.expected()
        got = {"rows": r["rows"], "lv": int(r["lv"]), "lv_mix": int(r["lv_mix"]), "rv": int(r["rv"])}
        return [f"{k}: got {got[k]} want {want[k]}" for k in got if got[k] != want[k]]


class Suppress(Operator):
    """KTable.suppress(until_time_limit_ms) drained by suppress_buffered.
    The limit is never reached, so nothing is emitted and every key stays
    buffered: the check reads the buffer through ``store_name``."""

    name = "suppress"
    LIMIT_MS = 10**12

    def stage(self) -> None:
        n = self.keys
        stage_generation_file(
            self.spark.range(n).select(
                F.concat(F.lit("k"), F.col("id")).alias("k"),
                F.col("id").cast("int").alias("v"),
                F.lit(BASE).cast("timestamp").alias("ts"),
            ),
            self.src,
            0,
        )
        self.final = {k: k for k in range(n)}
        rows = []
        for i in range(1, self.updates + 1):
            # a quarter of the updates add a key the bulk load did not have
            k = self.rng.randrange(n + n // 3)
            v = self.rng.randrange(10**6)
            rows.append((f"k{k}", v, BASE + dt.timedelta(seconds=i)))
            self.final[k] = v
        self.stage_updates(rows, "k string, v int, ts timestamp")
        self.store = f"perfbench_suppress_{os.getpid()}"

    def drain(self):
        table = (
            self.sb.file_stream(self.src, key="k", ts="ts", max_files_per_trigger=1)
            .to_table()
            .suppress(until_time_limit_ms=self.LIMIT_MS)
        )
        return suppress_buffered(
            table, time_col="ts", state_dir=self.state, checkpoint=self.ckpt, store_name=self.store
        )

    def check(self, result) -> list[str]:
        issues = []
        emitted = result.count()
        if emitted:
            issues.append(f"{emitted} records emitted before their time limit")
        idx = F.expr("substring(k, 2)").cast("long")
        r = (
            self.spark.table(self.store)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(_dec(F.col("v"))).alias("v"),
                F.sum(_dec(F.col("v")) * _dec(idx % _MIX + 1)).alias("v_mix"),
            )
            .first()
        )
        want = {
            "rows": len(self.final),
            "v": sum(self.final.values()),
            "v_mix": sum(v * (k % _MIX + 1) for k, v in self.final.items()),
        }
        got = {"rows": r["rows"], "v": int(r["v"] or 0), "v_mix": int(r["v_mix"] or 0)}
        issues += [f"buffer {k}: got {got[k]} want {want[k]}" for k in got if got[k] != want[k]]
        return issues


class AsOf(Operator):
    """Stream⋈versioned-table as-of join (join_table_asof_streaming), left.
    The state is the version history: ``keys`` keys with three hourly
    versions each; every generation is one probe record."""

    name = "asof"

    def _probe(self, sid: int) -> tuple:
        k = self.rng.randrange(self.keys)
        t = BASE + dt.timedelta(seconds=self.rng.randrange(3 * 3600))
        return (k, t, sid)

    def stage(self) -> None:
        n = self.keys
        hist = self.spark.range(n * 3).select(
            (F.col("id") % n).alias("k"),
            (F.lit(BASE) + (F.col("id") / n).cast("int") * F.expr("INTERVAL 1 HOUR")).alias("ts"),
            F.col("id").alias("pv"),
        )
        self.table = BatchBuilder(self.spark).versioned_table(hist, key="k", ts="ts", order=("pv",))
        self.loaded_rows = 3 * n
        self.probes = [self._probe(0)]
        stage_generation_file(
            self.spark.createDataFrame(self.probes, "k long, ts timestamp, sid long"), self.src, 0
        )
        rows = [self._probe(i) for i in range(1, self.updates + 1)]
        self.probes += rows
        self.stage_updates(rows, "k long, ts timestamp, sid long")
        self.out = os.path.join(self.root, "out")

    def drain(self):
        return join_table_asof_streaming(
            self.sb.file_stream(self.src, key="k", ts="ts", max_files_per_trigger=1),
            self.table,
            how="left",
            out_dir=self.out,
            checkpoint=self.ckpt,
        )

    def check(self, result) -> list[str]:
        want = set()
        for k, t, sid in self.probes:
            h = (t - BASE) // HOUR
            want.add((k, sid, h * self.keys + k, BASE + h * HOUR))
        got = {
            (r["k"], r["sid"], r["pv"], r["matched_ts"])
            for r in result.select("k", "sid", "pv", "matched_ts").collect()
        }
        issues = []
        if got != want:
            issues.append(f"as-of rows differ: {len(got - want)} unexpected, {len(want - got)} missing")
        return issues


OPERATORS = (TTJoin, Suppress, AsOf)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _tree_bytes(path: str, since: float) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


def run(ctx, keys: int, updates: int, warm_keys: int) -> dict:
    """Set up, load and update every operator; returns the end-to-end
    values and keeps per-operator records on ``ctx.keyed`` for the traced
    metrics."""
    spark = ctx.spark
    with ctx.setup_phase("warmup"):
        # a small tt-join load: first-touch code paths, the state store and
        # the transformWithState Python workers start here, not in a timed
        # step (warming the other two operators as well moved their loads
        # by under 10% and cost 15 s of set-up)
        warm = TTJoin(spark, os.path.join(ctx.tmp, "warm"), warm_keys, 0, random.Random(0))
        warm.stage()
        warm.drain()
    rng = random.Random(ctx.seed)
    ops = [cls(spark, os.path.join(ctx.tmp, cls.name), keys, updates, rng) for cls in OPERATORS]
    with ctx.setup_phase("stage"):
        for op in ops:
            op.stage()
    ctx.setup_done()

    records = []
    for op in ops:
        ctx.attempted += 1
        rec = {"op": op}
        try:
            with ctx.step(op.name, "load") as load:
                op.drain()
            rec["load"] = load
            rec["load_state_bytes"] = _tree_bytes(op.ckpt, load["start"])
            op.release_updates()
            with ctx.step(op.name, "update") as upd:
                result = op.drain()
            rec["update"] = upd
        except Exception as exc:  # a failing operator counts, the run goes on
            ctx.fail(op.name, exc)
            continue
        try:
            issues = op.check(result)
        except Exception as exc:  # an output that cannot be read is a wrong output
            issues = [repr(exc)]
        if issues:
            ctx.fail(f"{op.name} update", "; ".join(issues))
        records.append(rec)
    ctx.keyed = records

    samples = [
        b["duration_ms"].get("triggerExecution", 0) / 1000
        for rec in records
        for b in rec["update"]["batches"]
        if b["rows"] > 0
    ]
    return {
        "first_result_s": sum(r["load"]["seconds"] for r in records),
        "rerun_s": sum(r["update"]["seconds"] for r in records),
        "step_p50_s": _median(samples),
    }


def _tail(samples: list[float]) -> float:
    """Highest percentile with at least ten samples above it (0 if the
    samples cannot support one)."""
    xs = sorted(samples)
    return xs[len(xs) - 11] if len(xs) > 10 else 0.0


def layer_metrics(records: list[dict]) -> dict:
    """Per-operator streaming (progress ``durationMs``) and state-store
    (progress ``stateOperators``, checkpoint files) metrics."""
    out = {}
    all_samples, loaded, load_s = [], 0, 0.0
    for rec in records:
        op = rec["op"]
        s, t = f"streaming.{op.name}", f"tws.{op.name}"
        upd = [b for b in rec["update"]["batches"] if b["rows"] > 0]
        load = [b for b in rec["load"]["batches"] if b["rows"] > 0]

        def dur(batches, key):
            return _median([b["duration_ms"].get(key, 0) for b in batches])

        def state(batches, key, agg):
            vals = [sum(st[key] for st in b["state"]) for b in batches]
            return agg(vals) if vals else 0

        out[f"{s}.batches"] = len(upd)
        out[f"{s}.add_batch_ms"] = dur(upd, "addBatch")
        out[f"{s}.planning_ms"] = dur(upd, "queryPlanning")
        out[f"{s}.wal_commit_ms"] = dur(upd, "walCommit")
        out[f"{s}.commit_offsets_ms"] = dur(upd, "commitOffsets")
        out[f"{s}.latest_offset_ms"] = dur(upd, "latestOffset")
        trigger_s = sum(b["duration_ms"].get("triggerExecution", 0) for b in rec["update"]["batches"]) / 1000
        out[f"{s}.drain_start_s"] = rec["update"]["seconds"] - trigger_s
        out[f"{t}.state_commit_ms"] = state(upd, "commit_ms", _median)
        out[f"{t}.state_update_ms"] = state(upd, "update_ms", _median)
        out[f"{t}.state_rows_total"] = state(upd, "rows_total", max)
        out[f"{t}.state_rows_updated"] = state(upd, "rows_updated", sum)
        out[f"{t}.state_memory_mb"] = state(upd, "memory_bytes", max) / 2**20
        out[f"{t}.state_bytes_per_batch"] = (
            _tree_bytes(op.ckpt, rec["update"]["start"]) / len(upd) if upd else 0
        )
        out[f"{t}.load_state_rows_total"] = state(load, "rows_total", max)
        out[f"{t}.load_state_memory_mb"] = state(load, "memory_bytes", max) / 2**20
        out[f"{t}.load_state_bytes_per_batch"] = (
            rec["load_state_bytes"] / len(load) if load else 0
        )
        out[f"{t}.load_rows_per_s"] = op.loaded_rows / rec["load"]["seconds"]
        all_samples += [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in upd]
        loaded += op.loaded_rows
        load_s += rec["load"]["seconds"]
    out["streaming.update_batches"] = len(all_samples)
    out["streaming.update_batch_tail_s"] = _tail(all_samples)
    out["streaming.load_rows_per_s"] = loaded / load_s if load_s else 0.0
    return out
