"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one workload, Spark on
``local[nproc]``. Set-up builds the seeded inputs and runs one untimed
warm-up unit; then units repeat until ``--seconds`` have been measured.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A human report
(environment, per-span engine time, tail latencies) goes to standard
error. The exit code is 0 only when every operation passed its check.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import catalog  # noqa: E402
import common  # noqa: E402
import eventlog  # noqa: E402
from tracing import self_time  # noqa: E402

WORK_ROOT = ".perfbench_work"
#: A timed unit during which the hypervisor took more than this share
#: of the machine's CPU time (steal) measured the neighbours, not the
#: engine: an untraced run then times one more unit and keeps the quiet
#: ones. Runs with 3-18% steal read 15-55% slower on this class of box.
STEAL_LIMIT = 0.02
EXTRA_UNITS = 1


def workload_class(name: str):
    if name == "fleet_sweep":
        from fleet_sweep import FleetSweep
        return FleetSweep
    if name == "commit_stream":
        from commit_stream import CommitStream
        return CommitStream
    if name == "query_mix":
        from query_mix import QueryMix
        return QueryMix
    raise SystemExit(f"unknown workload {name!r}; one of {catalog.WORKLOADS}")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=catalog.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- per-layer metrics from spans -------------------------------------------

def span_layers(tracer, traced: list[dict]) -> dict[str, float]:
    per_unit = []
    samples = collections.defaultdict(list)
    for u in traced:
        spans = tracer.of_unit(u["index"])
        by = collections.defaultdict(list)
        for s in spans:
            by[s.label].append(s)
        d = collections.defaultdict(float)
        for run in by["orchestrator.run"]:
            kids = [c for c in spans if c.parent == run.sid]
            d["orchestrator.run_s"] += run.dur
            d["orchestrator.self_s"] += self_time(run, spans)
            d["orchestrator.overlap"] += sum(c.dur for c in kids) / run.dur
        d["schedule.read_s"] = sum(s.dur for s in by["schedule.read"])
        d["schedule.write_s"] = sum(s.dur for s in by["schedule.write"])
        d["schedule.writes"] = len(by["schedule.write"])
        for act in ("optimize", "expire_snapshots", "remove_orphan_files",
                    "append", "delete_where"):
            d[f"lake.{act}.s"] = sum(s.dur for s in by[f"lake.{act}"])
            d[f"lake.{act}.n"] = len(by[f"lake.{act}"])
            samples[act] += [s.dur * 1000.0 for s in by[f"lake.{act}"]]
        d["plans.stats.analyze_s"] = sum(s.dur for s in by["plans.stats.analyze"])
        for q, module in catalog.QUERIES.items():
            t = sum(s.dur for s in by[f"query.{q}"])
            d[f"query.{q}.s"] += t
            d[f"operators.{module}.s"] += t
        for k in ("bytes_written", "files_created", "files_deleted"):
            d[f"fs.{k}"] = u["fs"][k]
        per_unit.append(d)
    keys = {k for d in per_unit for k in d}
    out = {k: common.median([d.get(k, 0.0) for d in per_unit]) for k in keys}
    for act in ("append", "delete_where"):
        out[f"lake.{act}.p50_ms"] = common.median(samples[act])
        out[f"lake.{act}.p90_ms"] = common.pct(samples[act], 90)
    return out


def spark_layers(ctx, traced: list[dict]) -> tuple[dict[str, float], dict]:
    stages = eventlog.parse(ctx.log_dir)
    rows = []
    for u in traced:
        win = [u["window"]]
        m = eventlog.summarize(stages, win, ctx.cores,
                               jobs=eventlog.count_jobs(ctx.log_dir, win))
        rows.append(m)
    out = {k: common.median([r[k] for r in rows]) for k in rows[0]}
    return out, eventlog.by_group(stages)


# -- report -----------------------------------------------------------------

def report(ctx, units, env, groups) -> None:
    err = sys.stderr
    print(f"== perfbench {ctx.workload} seed={ctx.seed} trace={int(ctx.trace)}",
          file=err)
    print("environment: " + json.dumps(env, sort_keys=True), file=err)
    print(f"timed units: {len(units)}; walls "
          + ", ".join(f"{u['wall_s']:.3f}s" for u in units), file=err)
    for kind, vals in latency_pools(units).items():
        q, v, n = common.tail(vals)
        tail = f"p{q:.0f}={v:.1f}ms" if q else "no tail (<21 samples)"
        print(f"  {kind}: n={n} p50={common.median(vals):.1f}ms {tail}",
              file=err)
    if groups:
        print("engine time by span (task s / cpu s / stages):", file=err)
        top = sorted(groups.items(), key=lambda kv: -kv[1]["task_s"])[:15]
        for g, v in top:
            print(f"  {g}: {v['task_s']:.2f} / {v['cpu_s']:.2f} / "
                  f"{v['stages']}", file=err)
    for f in ctx.failures:
        print(f"FAILED: {f}", file=err)


def latency_pools(units) -> dict[str, list[float]]:
    pools = collections.defaultdict(list)
    for u in units:
        for k, v in (u.get("ms") or {}).items():
            pools[k] += v
        pools["read"] += u.get("reads_ms", [])
        pools["query"] += list(u.get("query_ms", {}).values())
        pools["append"] += u.get("append_ms", [])
        pools["delete"] += u.get("delete_ms", [])
    return {k: v for k, v in pools.items() if v}


# -- main -------------------------------------------------------------------

def run(args) -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        import __spark_entry__  # noqa: F401
        import trino_iceberg_maintenance_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}",
              file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(
        WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    ctx = common.Context(args.workload, args.seed, bool(args.trace), work)
    try:
        ctx.start_spark()
        phases = {"jvm_s": time.perf_counter() - T_START}
        wl = workload_class(args.workload)(ctx)
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - T_START - phases["jvm_s"]
        ctx.tracer.enabled = False
        wl.unit(traced=False)  # warm-up: untimed, counted in setup_s
        setup_s = time.perf_counter() - T_START
        phases["warmup_s"] = setup_s - phases["jvm_s"] - phases["inputs_s"]
        units = []
        t0 = time.perf_counter()
        while True:
            i = len(units)
            traced = ctx.trace and i % 2 == 1
            ctx.tracer.enabled, ctx.tracer.unit = traced, i
            cpu0 = common.cpu_times()
            u = wl.unit(traced=traced)
            u["steal"] = common.steal_share(cpu0, common.cpu_times())
            u["index"] = i
            units.append(u)
            if time.perf_counter() - t0 < args.seconds or (ctx.trace and i < 1):
                continue
            noisy = sum(x["steal"] > STEAL_LIMIT for x in units)
            if ctx.trace or noisy < len(units) or noisy > EXTRA_UNITS:
                break
        kept = [u for u in units if u["steal"] <= STEAL_LIMIT] or units
        ctx.tracer.enabled = False
        if hasattr(wl, "finish"):
            wl.finish()
        env = common.environment(ctx, wl.data_bytes)
        env["setup_phases"] = {k: round(v, 3) for k, v in phases.items()}
        env["cpu_steal_share"] = [round(u["steal"], 4) for u in units]
        env["units_kept"] = len(kept)
        ctx.stop_spark()
        groups = {}
        if ctx.trace:
            plain = [u for u in units if not u["traced"]]
            traced_units = [u for u in units if u["traced"]]
            found = span_layers(ctx.tracer, traced_units)
            found.update(wl.layers(traced_units))
            engine, groups = spark_layers(ctx, traced_units)
            found.update(engine)
            found["trace.overhead"] = (
                common.median([u["wall_s"] for u in traced_units])
                / common.median([u["wall_s"] for u in plain]))
            metrics = catalog.full_layer(found)
        else:
            values = wl.end_to_end(kept)
            values["setup_s"] = setup_s
            values["peak_rss_mb"] = common.median([u["rss_mb"] for u in kept])
            metrics = {
                name: common.metric(values[name], unit)
                for name, (unit, _, _) in catalog.END_TO_END.items()
            }
        report(ctx, units, env, groups)
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
        sys.stdout.flush()
        print(json.dumps(result), flush=True)
        return 0 if ctx.failed == 0 else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
