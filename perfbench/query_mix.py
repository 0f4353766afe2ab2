"""query_mix: one pass over a fixed list of registry queries on plain
parquet at sf0.1.

Each query is timed through ``collect()``; the pass of queries is the
unit's wall time. After the pass, in a window of its own, every result
lands in a lake table of materialized results: one single-file append
per query, and one merge-on-read delete per pair of queries that
retires the previous results of the pair (seeded into the table at
set-up). The results table is restored before every pass, so every
pass does the same work. Outside every timed window, each result is
checked against the query's DuckDB oracle over the same parquet files,
with the repository's oracle harness.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import common
import inputs
from catalog import QUERIES
from tests.oracle_harness import _norm, _rows_to_set, duckdb_con
from tracing import TracedTable

RESULT_SCHEMA = "query string, qi int, pass int, row string"
#: the pass retires the seeded results of each pair of queries
RETIRE_EVERY = 2


def matches_oracle(cols, rows, want_cols, want_rows) -> bool:
    """Same column names and the same rows, order-insensitive, values
    normalized as the oracle harness does."""
    return (sorted(cols) == sorted(want_cols)
            and _rows_to_set(cols, rows) == _rows_to_set(want_cols, want_rows))


def _records(q: str, qi: int, rows) -> pa.Table:
    return pa.table({
        "query": pa.array([q] * len(rows), pa.string()),
        "qi": pa.array([qi] * len(rows), pa.int32()),
        "pass": pa.array([0] * len(rows), pa.int32()),
        "row": pa.array([json.dumps(_norm(tuple(r)), default=str)
                         for r in rows], pa.string()),
    })


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf0.1")
        self.results = os.path.join(ctx.work, "results", "mix")
        self.pristine = os.path.join(ctx.work, "results_pristine")
        self.passes: list[dict] = []

    def setup(self) -> None:
        import __spark_entry__ as entry
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        ctx, spark = self.ctx, self.ctx.spark
        tables = inputs.write_tables(ctx.seed, self.sf_dir, inputs.GENERATORS)
        self.data_bytes = sum(t.nbytes for t in tables.values())
        registry = entry.queries()
        self.fns = {q: registry[q] for q in QUERIES}
        self.oracles = {q: entry.oracle_sql()[q] for q in QUERIES}
        seed_rows = [(q, i, -1, "") for i, q in enumerate(QUERIES)]
        table = ParquetMaintainedTable.create(spark, self.results)
        table.append(spark.createDataFrame(seed_rows, RESULT_SCHEMA),
                     clock=inputs.fixed_now)
        common.restore(os.path.dirname(self.results), self.pristine)
        self.user_bytes = None

    def unit(self, traced: bool) -> dict:
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable,
        )

        ctx, spark, tracer = self.ctx, self.ctx.spark, self.ctx.tracer
        root = os.path.dirname(self.results)
        common.restore(self.pristine, root)
        table = ParquetMaintainedTable(spark, self.results)
        if traced:
            table = TracedTable(table, tracer, "results")
        before = common.tree(root)
        clock = inputs.fixed_now
        out = {"query_ms": {}, "append_ms": [], "delete_ms": [],
               "rows": {}, "errors": {}}
        ctx.quiesce()
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        for q, module in QUERIES.items():
            try:
                with tracer.span(f"query.{q}", module):
                    df, ms = common.time_ms(
                        lambda: self.fns[q](spark, self.sf_dir))
                    rows, ms2 = common.time_ms(df.collect)
                out["query_ms"][q] = ms + ms2
                out["rows"][q] = (df.columns, rows)
            except Exception as exc:  # fails this query's checks
                out["errors"][q] = f"{type(exc).__name__}: {exc}"[:300]
        out["wall_s"] = time.perf_counter() - t0
        rss_mb = common.peak_rss_mb(ctx)
        out["window"] = (w0, time.time() * 1000.0)
        self._sink(table, out, clock)
        out["rss_mb"] = rss_mb
        out["traced"] = traced
        after = common.tree(root)
        out["fs"] = common.tree_diff(before, after)
        out["meta_bytes"] = common.tree_diff(before, after, meta_only=True)[
            "bytes_written"]
        out["end_bytes"] = sum(s for s, _, _ in after.values())
        n_rows = sum(len(r) for _, r in out["rows"].values())
        try:
            stored = table.read().count()
        except Exception:
            stored = -1
        ctx.record(stored == n_rows and not out["errors"],
                   f"results table holds {stored} rows, want {n_rows}; "
                   f"errors {out['errors']}")
        if self.user_bytes is None:
            self.user_bytes = self._result_bytes(out["rows"])
        self.passes.append(out)
        return out

    def _sink(self, table, out: dict, clock) -> None:
        """Keep the pass's results in the lake table, timed per commit
        but outside the pass's wall time."""
        payloads = {q: self._payload(q, qi, out["rows"][q][1])
                    for qi, q in enumerate(QUERIES) if q in out["rows"]}
        for qi, q in enumerate(QUERIES):
            if q not in payloads:
                continue
            try:
                _, ms = common.time_ms(
                    lambda: table.append(payloads[q], clock=clock))
                out["append_ms"].append(ms)
                self.ctx.record(True, f"append {q}")
                if (qi + 1) % RETIRE_EVERY == 0:
                    lo = qi + 1 - RETIRE_EVERY
                    cond = f"pass < 0 AND qi BETWEEN {lo} AND {qi}"
                    _, ms = common.time_ms(
                        lambda: table.delete_where(cond, clock=clock))
                    out["delete_ms"].append(ms)
                    self.ctx.record(True, f"delete after {q}")
            except Exception as exc:  # fails the results-table check
                out["errors"][q] = f"{type(exc).__name__}: {exc}"[:300]

    def _payload(self, q: str, qi: int, rows):
        """One query's result as a DataFrame over a parquet file of
        (query, qi, pass, row-as-JSON) records."""
        path = os.path.join(self.ctx.work, "payload", f"{qi}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(_records(q, qi, rows), path, compression="zstd")
        return self.ctx.spark.read.parquet(path)

    def _result_bytes(self, rows_by_q) -> int:
        tbl = pa.concat_tables([
            _records(q, qi, rows_by_q[q][1]) for qi, q in enumerate(QUERIES)
        ])
        return inputs.zstd_bytes(tbl, self.ctx.work)

    def finish(self) -> None:
        """Check every pass's results against the DuckDB oracles (run
        once, outside every timed window)."""
        con = duckdb_con(self.sf_dir)
        want = {}
        for q, sql in self.oracles.items():
            cur = con.execute(sql)
            want[q] = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        for p in self.passes:
            for q in QUERIES:
                if q in p["errors"] or q not in p["rows"]:
                    self.ctx.record(False, f"{q}: {p['errors'].get(q)}")
                    continue
                cols, rows = p["rows"][q]
                self.ctx.record(
                    matches_oracle(cols, [tuple(r) for r in rows], *want[q]),
                    f"{q}: {len(rows)} rows vs oracle {len(want[q][1])}")
            p["rows"] = None

    # -- metrics --------------------------------------------------------
    def end_to_end(self, units: list[dict]) -> dict[str, float]:
        qms = [x for u in units for x in u["query_ms"].values()]
        return {
            "wall_s": common.median([u["wall_s"] for u in units]),
            "query_gmean_ms": common.median(
                [common.gmean(list(u["query_ms"].values())) for u in units]),
            "read_p50_ms": common.median(qms),
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
        return {
            "lake.meta_bytes_written": common.median(
                [u["meta_bytes"] for u in units]),
        }
