"""commit_stream: one client in a closed loop on one table.

A pass runs a fixed sequence of operations on a fresh table: single-
file appends of distinct 2500-row ``orders`` slices, merge-on-read
``delete_where``s, and reads that alternate between a point lookup and
a full count. Each operation is issued when the previous one returns.
No maintenance runs, so history, file count and pending delete files
grow through the pass. The kind of the operation at each position is
fixed (``TEMPLATE``); the seed picks only the slices, the delete
predicates and the lookup keys, so every seed meets the same history
depth at every read. Every read is checked against a pure-Python model
of the sequence.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import inputs
from tracing import TracedTable

#: A = append, D = delete_where, R = read (lookup and count alternate).
#: An odd number of reads keeps their median on one sample, not on the
#: mean of a lookup and a count.
TEMPLATE = "AARAARDR" * 3
ROWS_PER_SLICE = 2500
DELETE_MOD = 11


def plan(seed: int) -> list[dict]:
    """The operation sequence for ``seed``: same kinds at the same
    positions for every seed, seeded arguments."""
    rng = np.random.default_rng([seed, 11])
    n_slices = inputs.ROWS["orders"] // ROWS_PER_SLICE
    slices = iter(rng.permutation(n_slices)[: TEMPLATE.count("A")])
    # distinct remainders: every delete removes about 1/DELETE_MOD of the
    # live rows, whatever the seed
    rems = iter(rng.permutation(DELETE_MOD)[: TEMPLATE.count("D")])
    ops, appended, reads = [], [], 0
    for kind in TEMPLATE:
        if kind == "A":
            s = int(next(slices))
            appended.append(s)
            ops.append({"kind": "append", "slice": s})
        elif kind == "D":
            ops.append({"kind": "delete", "rem": int(next(rems))})
        else:
            lookup = reads % 2 == 0
            reads += 1
            if lookup:
                s = appended[int(rng.integers(0, len(appended)))]
                key = s * ROWS_PER_SLICE + int(rng.integers(0, ROWS_PER_SLICE))
                ops.append({"kind": "lookup", "key": key})
            else:
                ops.append({"kind": "count"})
    return ops


def matches(op: dict, got) -> bool:
    """A read must return exactly what the model returned; appends and
    deletes have nothing to compare (they fail only by raising)."""
    return op["want"] is None or got == op["want"]


class Model:
    """Pure-Python twin of the table: live rows by order key."""

    def __init__(self, orders: pa.Table):
        self.src = orders
        self.live: dict[int, dict] = {}

    def apply(self, op: dict):
        if op["kind"] == "append":
            lo = op["slice"] * ROWS_PER_SLICE
            for r in self.src.slice(lo, ROWS_PER_SLICE).to_pylist():
                self.live[r["o_orderkey"]] = r
        elif op["kind"] == "delete":
            self.live = {k: r for k, r in self.live.items()
                         if r["o_custkey"] % DELETE_MOD != op["rem"]}
        elif op["kind"] == "count":
            return len(self.live)
        else:
            r = self.live.get(op["key"])
            return [r] if r is not None else []
        return None


class CommitStream:
    name = "commit_stream"

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.now = inputs.fixed_now()
        self.path = os.path.join(ctx.work, "stream", "orders")
        self.slice_dir = os.path.join(ctx.work, "slices")

    def setup(self) -> None:
        ctx = self.ctx
        orders = inputs.orders(ctx.seed)
        self.data_bytes = orders.nbytes
        self.ops = plan(ctx.seed)
        os.makedirs(self.slice_dir, exist_ok=True)
        appended = []
        for op in self.ops:
            if op["kind"] == "append":
                lo = op["slice"] * ROWS_PER_SLICE
                part = orders.slice(lo, ROWS_PER_SLICE)
                appended.append(part)
                op["path"] = os.path.join(self.slice_dir, f"s{op['slice']}.parquet")
                pq.write_table(part, op["path"], compression="zstd")
        self.user_bytes = inputs.zstd_bytes(pa.concat_tables(appended), ctx.work)
        model = Model(orders)
        for op in self.ops:
            op["want"] = model.apply(op)
        live = sorted(model.live)
        self.live_bytes = inputs.zstd_bytes(
            orders.take(pa.array(live, pa.int64())), ctx.work)

    def unit(self, traced: bool) -> dict:
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        ctx, spark, tracer = self.ctx, self.ctx.spark, self.ctx.tracer
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
        table = ParquetMaintainedTable.create(spark, self.path)
        if traced:
            table = TracedTable(table, tracer, "orders")
        before = common.tree(os.path.dirname(self.path))
        ctx.quiesce()
        recs = []
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        for i, op in enumerate(self.ops):
            clock = (lambda at: lambda: at)(self.now + dt.timedelta(minutes=i))
            recs.append(self._op(table, i, op, clock))
        wall = time.perf_counter() - t0
        rss_mb = common.peak_rss_mb(ctx)
        w1 = time.time() * 1000.0
        after = common.tree(os.path.dirname(self.path))
        for op, r in zip(self.ops, recs):
            ok = r["error"] is None and matches(op, r["got"])
            ctx.record(ok, f"{op['kind']} #{r['i']}: "
                           f"{r['error'] or repr(r['got'])[:200]}")
        snap = table.current_snapshot()
        by = {k: [r for r in recs if r["kind"] == k]
              for k in ("append", "delete", "read")}
        return {
            "wall_s": wall,
            "rss_mb": rss_mb,
            "window": (w0, w1),
            "traced": traced,
            "ms": {k: [r["ms"] for r in v] for k, v in by.items()},
            "read_plan_ms": [r["plan_ms"] for r in by["read"]],
            "read_exec_ms": [r["exec_ms"] for r in by["read"]],
            "fs": common.tree_diff(before, after),
            "meta_bytes": common.tree_diff(before, after, meta_only=True)[
                "bytes_written"],
            "end_bytes": sum(s for s, _, _ in after.values()),
            "files_after": len(snap.files) if snap else 0,
            "deletes_pending": len(snap.delete_files or []) if snap else 0,
            "journal": table.manifest_log_entries(),
        }

    def _op(self, table, i: int, op: dict, clock) -> dict:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        kind = "read" if op["kind"] in ("lookup", "count") else op["kind"]
        rec = {"i": i, "kind": kind, "got": None, "error": None,
               "plan_ms": 0.0, "exec_ms": 0.0}
        t0 = time.perf_counter()
        try:
            if op["kind"] == "append":
                table.append(spark.read.parquet(op["path"]), clock=clock)
            elif op["kind"] == "delete":
                table.delete_where(
                    f"o_custkey % {DELETE_MOD} = {op['rem']}", clock=clock)
            else:
                df = table.read()
                t1 = time.perf_counter()
                with tracer.span("lake.read.exec", "orders"):
                    if op["kind"] == "count":
                        rec["got"] = df.count()
                    else:
                        rec["got"] = [r.asDict() for r in
                                      df.where(f"o_orderkey = {op['key']}").collect()]
                rec["plan_ms"] = (t1 - t0) * 1000.0
                rec["exec_ms"] = (time.perf_counter() - t1) * 1000.0
        except Exception as exc:  # counted as a failed operation
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        return rec

    # -- metrics --------------------------------------------------------
    def end_to_end(self, units: list[dict]) -> dict[str, float]:
        pool = {k: [x for u in units for x in u["ms"][k]]
                for k in ("append", "delete", "read")}
        return {
            "wall_s": common.median([u["wall_s"] for u in units]),
            "read_p50_ms": common.median(pool["read"]),
            "append_p50_ms": common.median(pool["append"]),
            "delete_p50_ms": common.median(pool["delete"]),
            "query_gmean_ms": common.median(
                [common.gmean(u["ms"]["read"]) for u in units]),
            "write_amp": common.median(
                [u["fs"]["bytes_written"] for u in units]) / self.user_bytes,
            "space_amp": common.median(
                [u["end_bytes"] for u in units]) / self.live_bytes,
        }

    def layers(self, units: list[dict]) -> dict[str, float]:
        reads = [x for u in units for x in u["ms"]["read"]]

        def grow(kind):
            return common.median([common.growth(u["ms"][kind]) for u in units])

        return {
            "lake.append.growth": grow("append"),
            "lake.read.growth": grow("read"),
            "lake.read.n": float(len(reads)) / len(units),
            "lake.read.plan_ms": common.median(
                [x for u in units for x in u["read_plan_ms"]]),
            "lake.read.exec_ms": common.median(
                [x for u in units for x in u["read_exec_ms"]]),
            "lake.read.p90_ms": common.pct(reads, 90),
            "lake.deletes_pending": common.median(
                [u["deletes_pending"] for u in units]),
            "lake.files_after": common.median([u["files_after"] for u in units]),
            "lake.meta_bytes_written": common.median(
                [u["meta_bytes"] for u in units]),
            "lake.journal_entries": common.median([u["journal"] for u in units]),
        }
