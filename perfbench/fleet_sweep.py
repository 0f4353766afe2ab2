"""fleet_sweep: one ``Orchestrator.run()`` over a seeded fleet, then a
fixed read pass.

The fleet has one table per orchestrator worker (``num_workers =
nproc``), so every table's pipeline starts at once and no table waits
in the pool's queue. Each table holds ``COMMITS`` single-file
commits of 2500-row ``lineitem`` slices whose commit stamps span twice
the snapshot retention, one merge-on-read delete after the last of
them, and four planted orphan files: two older and two newer than the
orphan retention. All four reference actions are due on every table.

Set-up builds the fleet up to its last ``SPARK_APPENDS`` commits
(metadata-only ``add_files``) and keeps it as the pristine copy. Every
unit restores it (same bytes, same mtimes), then makes the last commits
itself, each table's Spark ``append``s and its ``delete_where``, timed
one by one in a window of their own; then the sweep and the read pass
run. So every sweep does the same work, and the commit latencies come
from a warm JVM.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import common
import inputs
from tracing import TracedTable

TABLES_PER_WORKER = 1
COMMITS = 12
ROWS_PER_COMMIT = 2500
SNAPSHOT_RETENTION_DAYS = 3
ORPHAN_RETENTION_DAYS = 5
ORPHAN_AGES_DAYS = (10, 8, 2, 1)  # first two are past retention
LOOKUPS_PER_TABLE = 4
SPARK_APPENDS = 2


def fingerprint(df, by: str):
    """Order-insensitive content hash and row count per ``by`` group,
    the same expression on both sides of the check."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0"))
            for c in sorted(df.columns) if c != by]
    return df.groupBy(by).agg(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n")).collect()


def _epoch(t: dt.datetime) -> float:
    return (t - dt.datetime(1970, 1, 1)).total_seconds()


class FleetSweep:
    name = "fleet_sweep"

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.now = inputs.fixed_now()
        self.n_tables = TABLES_PER_WORKER * ctx.cores
        self.root = os.path.join(ctx.work, "fleet")
        self.tables_dir = os.path.join(self.root, "tables")
        self.pristine = os.path.join(ctx.work, "fleet_pristine")
        self.schedule = os.path.join(self.root, "_schedule")
        self.unit_no = 0

    # -- set-up ---------------------------------------------------------
    def plan(self, seed: int) -> dict:
        """Everything the seed decides: per table its slice row range,
        delete predicate, orphan payload sizes and lookup row ids."""
        rng = np.random.default_rng([seed, 7])
        out = []
        for k in range(self.n_tables):
            lo = k * COMMITS * ROWS_PER_COMMIT
            out.append({
                "name": f"t{k:02d}",
                "lo": lo,
                "hi": lo + COMMITS * ROWS_PER_COMMIT,
                "delete_qty": float(rng.integers(1, 51)),
                "orphan_sizes": [int(s) for s in rng.integers(500, 4000, 4)],
                "lookups": [int(lo + r) for r in rng.integers(
                    0, COMMITS * ROWS_PER_COMMIT, LOOKUPS_PER_TABLE)],
            })
        return {"tables": out}

    def source(self, seed: int) -> pa.Table:
        li = inputs.lineitem(seed)
        return li.append_column(
            "l_rowid", pa.array(np.arange(li.num_rows, dtype="int64")))

    def setup(self) -> None:
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )
        from trino_iceberg_maintenance_spark.sources.schedule import (
            SCHEDULE_SCHEMA,
            write_schedule,
        )

        ctx, spark = self.ctx, self.ctx.spark
        self.spec = self.plan(ctx.seed)
        src = self.source(ctx.seed)
        self.data_bytes = src.nbytes
        src_path = os.path.join(ctx.work, "lineitem.parquet")
        pq.write_table(src, src_path, compression="zstd")
        live_parts, plains = [], []
        self.expected = {}
        tables = {
            t["name"]: ParquetMaintainedTable.create(
                spark, os.path.join(self.tables_dir, t["name"]))
            for t in self.spec["tables"]
        }

        for i in range(COMMITS - SPARK_APPENDS):
            for t in self.spec["tables"]:
                table, lo = tables[t["name"]], t["lo"] + i * ROWS_PER_COMMIT
                f = os.path.join(table.data_dir, f"snap-{t['name']}{i:09d}",
                                 "part-00000.parquet")
                os.makedirs(os.path.dirname(f))
                pq.write_table(src.slice(lo, ROWS_PER_COMMIT), f,
                               compression="zstd")
                table.add_files([f], clock=(lambda at: lambda: at)(
                    self.stamp(i)))
        # the slices the units append themselves
        for i in range(COMMITS - SPARK_APPENDS, COMMITS):
            for t in self.spec["tables"]:
                f = os.path.join(ctx.work, "slices", f"{t['name']}-{i}.parquet")
                os.makedirs(os.path.dirname(f), exist_ok=True)
                pq.write_table(src.slice(t["lo"] + i * ROWS_PER_COMMIT,
                                         ROWS_PER_COMMIT),
                               f, compression="zstd")
                t.setdefault("slices", []).append((i, f))
        for t in self.spec["tables"]:
            path = os.path.join(self.tables_dir, t["name"])
            t["orphans"] = []
            for j, (age, size) in enumerate(zip(ORPHAN_AGES_DAYS,
                                                t["orphan_sizes"])):
                f = os.path.join(path, "data", f"snap-orphan{j:05d}",
                                 "part-00000.parquet")
                os.makedirs(os.path.dirname(f))
                with open(f, "wb") as fh:
                    fh.write(np.random.default_rng([ctx.seed, j]).bytes(size))
                m = _epoch(self.now - dt.timedelta(days=age))
                os.utime(f, (m, m))
                t["orphans"].append((f, age > ORPHAN_RETENTION_DAYS))
            rows = src.slice(t["lo"], t["hi"] - t["lo"])
            live = rows.filter(pc.not_equal(rows["l_quantity"], t["delete_qty"]))
            live_parts.append(live)
            t["n_live"] = live.num_rows
            hits = live.filter(pc.is_in(live["l_rowid"], pa.array(t["lookups"])))
            t["hits"] = {r["l_rowid"]: r for r in hits.to_pylist()}
            plain = spark.read.parquet(src_path).where(
                f"l_rowid >= {t['lo']} AND l_rowid < {t['hi']} AND "
                f"l_quantity != {t['delete_qty']}")
            plains.append(plain.withColumn("__t", F.lit(t["name"])))
        for row in fingerprint(reduce(DataFrame.unionByName, plains), "__t"):
            self.expected[row["__t"]] = (row["h"], row["n"])
        live_all = pa.concat_tables(live_parts)
        self.user_bytes = inputs.zstd_bytes(live_all, ctx.work)
        rows = [
            (t["name"], 1, None, 1, None, 1, None, 1, 1,
             SNAPSHOT_RETENTION_DAYS, 1, ORPHAN_RETENTION_DAYS,
             None, None, None, None, None, None)
            for t in self.spec["tables"]
        ]
        write_schedule(spark.createDataFrame(rows, SCHEDULE_SCHEMA),
                       self.schedule)
        common.restore(self.root, self.pristine)

    def stamp(self, i: int) -> dt.datetime:
        """Commit stamp of commit ``i``: the history spans twice the
        snapshot retention."""
        span = dt.timedelta(days=2 * SNAPSHOT_RETENTION_DAYS)
        return self.now - span + span * i / COMMITS

    def commits(self, traced: bool) -> tuple[list[float], list[float]]:
        """The fleet's last commits, made warm: per table its Spark
        ``append``s, then its merge-on-read ``delete_where``. Returns the
        latency of each append and each delete; a commit that raises
        counts as a failed operation."""
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        spark = self.ctx.spark
        tables = {}
        for t in self.spec["tables"]:
            table = ParquetMaintainedTable(
                spark, os.path.join(self.tables_dir, t["name"]))
            tables[t["name"]] = (TracedTable(table, self.ctx.tracer, t["name"])
                                 if traced else table)
        appends, deletes = [], []

        def timed(what, fn, out):
            try:
                out.append(common.time_ms(fn)[1])
            except Exception as exc:
                self.ctx.record(False, f"{what}: {exc}"[:300])
            else:
                self.ctx.record(True, what)

        for k in range(SPARK_APPENDS):
            for t in self.spec["tables"]:
                i, f = t["slices"][k]
                timed(f"append {t['name']} #{i}",
                      lambda: tables[t["name"]].append(
                          spark.read.parquet(f),
                          clock=(lambda at: lambda: at)(self.stamp(i))),
                      appends)
        at = self.stamp(COMMITS - 1) + dt.timedelta(minutes=1)
        for t in self.spec["tables"]:
            timed(f"delete_where {t['name']}",
                  lambda: tables[t["name"]].delete_where(
                      f"l_quantity = {t['delete_qty']}", clock=lambda: at),
                  deletes)
        return appends, deletes

    # -- one unit -------------------------------------------------------
    def unit(self, traced: bool) -> dict:
        import trino_iceberg_maintenance_spark.orchestrator as orch_mod
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        ctx, spark = self.ctx, self.ctx.spark
        tracer = ctx.tracer
        common.restore(self.pristine, self.root)
        ctx.quiesce()
        append_ms, delete_ms = self.commits(traced)
        before = common.tree(self.tables_dir)
        analyzed: dict[str, list] = {}

        def resolver(name):
            t = ParquetMaintainedTable(spark, os.path.join(self.tables_dir, name))
            return TracedTable(t, tracer, name) if traced else t

        def sink(name, df):
            with tracer.span("plans.stats.analyze", name):
                analyzed[name] = df.collect()

        orig_read = orch_mod.read_schedule
        reads = []
        ctx.quiesce()
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            with tracer.span("unit", str(self.unit_no)):
                orch = orch_mod.Orchestrator(
                    spark, self.schedule, resolver, stats_sink=sink,
                    clock=lambda: self.now, num_workers=ctx.cores)
                if traced:
                    orch_mod.read_schedule = tracer.wrap(
                        orig_read, "schedule.read", "schedule")
                    orch._stamp_watermark = tracer.wrap(
                        orch._stamp_watermark, "schedule.write", "schedule")
                with tracer.span("orchestrator.run", "fleet") as run_span:
                    with tracer.ambient(run_span):
                        done = orch.run()
                sweep_s = time.perf_counter() - t0
                for t in self.spec["tables"]:
                    table = resolver(t["name"])
                    reads.append(self._read(table, t, None))
                    for key in t["lookups"]:
                        reads.append(self._read(table, t, key))
        finally:
            orch_mod.read_schedule = orig_read
        wall = time.perf_counter() - t0
        rss_mb = common.peak_rss_mb(ctx)
        w1 = time.time() * 1000.0
        self.unit_no += 1
        after = common.tree(self.tables_dir)
        self._check(done, orch.errors, analyzed, reads)
        files_after = sum(
            ParquetMaintainedTable(spark, os.path.join(self.tables_dir, t["name"]))
            .file_count() for t in self.spec["tables"])
        eligible = [f for t in self.spec["tables"] for f, old in t["orphans"] if old]
        diff = common.tree_diff(before, after)
        return {
            "wall_s": wall,
            "rss_mb": rss_mb,
            "sweep_s": sweep_s,
            "append_ms": append_ms,
            "delete_ms": delete_ms,
            "window": (w0, w1),
            "traced": traced,
            "reads_ms": [r["ms"] for r in reads],
            "read_plan_ms": [r["plan_ms"] for r in reads],
            "read_exec_ms": [r["exec_ms"] for r in reads],
            "fs": diff,
            "meta_bytes": common.tree_diff(before, after, meta_only=True)[
                "bytes_written"],
            "end_bytes": sum(s for s, _, _ in after.values()),
            "files_after": files_after,
            "orphans_ratio": sum(not os.path.exists(f) for f in eligible)
            / len(eligible),
        }

    def _read(self, table, t, key) -> dict:
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        df = table.read()
        t1 = time.perf_counter()
        with tracer.span("lake.read.exec", t["name"]):
            if key is None:
                got = df.count()
            else:
                got = [r.asDict() for r in df.where(f"l_rowid = {key}").collect()]
        t2 = time.perf_counter()
        return {"t": t, "key": key, "got": got, "ms": (t2 - t0) * 1000.0,
                "plan_ms": (t1 - t0) * 1000.0, "exec_ms": (t2 - t1) * 1000.0}

    def _check(self, done, errors, analyzed, reads) -> None:
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        ctx, spark = self.ctx, self.ctx.spark
        ok_names = {p.table_name for p in done}
        cutoff = self.now - dt.timedelta(days=SNAPSHOT_RETENTION_DAYS)
        tables = {
            t["name"]: ParquetMaintainedTable(
                spark, os.path.join(self.tables_dir, t["name"]))
            for t in self.spec["tables"]
        }
        try:
            got = {row["__t"]: (row["h"], row["n"]) for row in fingerprint(
                reduce(DataFrame.unionByName, [
                    tb.read().withColumn("__t", F.lit(name))
                    for name, tb in tables.items()
                ]), "__t")}
        except Exception as exc:  # the sweep left a table unreadable
            got = {}
            ctx.record(False, f"fleet fingerprint: {exc}"[:300])
        for t in self.spec["tables"]:
            name, n_live = t["name"], t["n_live"]
            table = tables[name]
            stats = analyzed.get(name) or []
            snaps = table.snapshots_df().collect()
            ok = (
                name in ok_names
                and got.get(name) == self.expected[name]
                and all(os.path.exists(f) != old for f, old in t["orphans"])
                and all(s.committed_at >= cutoff for s in snaps)
                and len(stats) > 0
                and all(s.row_count == n_live for s in stats)
            )
            ctx.record(ok, f"sweep of {name}: done={name in ok_names} "
                           f"errors={[str(e) for e in errors][:1]}")
        for r in reads:
            t = r["t"]
            if r["key"] is None:
                want = t["n_live"]
            else:
                row = t["hits"].get(r["key"])
                want = [row] if row is not None else []
            ctx.record(r["got"] == want,
                       f"read {t['name']} key={r['key']}: {r['got']!r:.200}")

    # -- metrics --------------------------------------------------------
    def end_to_end(self, units: list[dict]) -> dict[str, float]:
        reads = [ms for u in units for ms in u["reads_ms"]]
        return {
            "wall_s": common.median([u["wall_s"] for u in units]),
            "read_p50_ms": common.median(reads),
            "query_gmean_ms": common.median(
                [common.gmean(u["reads_ms"]) for u in units]),
            "append_p50_ms": common.median(
                [x for u in units for x in u["append_ms"]]),
            "delete_p50_ms": common.median(
                [x for u in units for x in u["delete_ms"]]),
            "write_amp": common.median(
                [u["fs"]["bytes_written"] for u in units]) / self.user_bytes,
            "space_amp": common.median(
                [u["end_bytes"] for u in units]) / self.user_bytes,
        }

    def layers(self, units: list[dict]) -> dict[str, float]:
        reads = [ms for u in units for ms in u["reads_ms"]]
        return {
            "lake.orphans_removed_ratio": common.median(
                [u["orphans_ratio"] for u in units]),
            "lake.files_after": common.median([u["files_after"] for u in units]),
            "lake.meta_bytes_written": common.median(
                [u["meta_bytes"] for u in units]),
            "lake.read.n": float(len(reads)) / len(units),
            "lake.read.plan_ms": common.median(
                [x for u in units for x in u["read_plan_ms"]]),
            "lake.read.exec_ms": common.median(
                [x for u in units for x in u["read_exec_ms"]]),
            "lake.read.p90_ms": common.pct(reads, 90),
            "lake.read.growth": 0.0,
        }
