"""The benchmark's own tests.

    python3 -m pytest perfbench -q

All but the last need no Spark; the last makes one short traced run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import catalog  # noqa: E402
import commit_stream  # noqa: E402
import common  # noqa: E402
import fleet_sweep  # noqa: E402
import inputs  # noqa: E402
import query_mix  # noqa: E402
import tracing  # noqa: E402


class _Ctx:
    cores = 4
    work = "/nonexistent"


def _fleet_plan(seed):
    return fleet_sweep.FleetSweep(_Ctx()).plan(seed)


def _bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- inputs ------------------------------------------------------------------

def test_same_seed_gives_identical_inputs():
    for name, gen in inputs.GENERATORS.items():
        assert gen(5).equals(gen(5)), name
    assert commit_stream.plan(5) == commit_stream.plan(5)
    assert _fleet_plan(5) == _fleet_plan(5)


def test_other_seed_changes_data_not_shape():
    for name in ("lineitem", "orders", "documents", "events", "embeddings"):
        a, b = inputs.GENERATORS[name](5), inputs.GENERATORS[name](6)
        assert a.schema == b.schema and a.num_rows == b.num_rows, name
        assert not a.equals(b), name
    a, b = commit_stream.plan(5), commit_stream.plan(6)
    assert [op["kind"] for op in a] == [op["kind"] for op in b]
    assert a != b
    fa, fb = _fleet_plan(5)["tables"], _fleet_plan(6)["tables"]
    assert [(t["name"], t["lo"], t["hi"]) for t in fa] == \
        [(t["name"], t["lo"], t["hi"]) for t in fb]
    assert [t["lookups"] for t in fa] != [t["lookups"] for t in fb]


def test_commit_stream_positions_are_fixed():
    ops = commit_stream.plan(9)
    kinds = "".join(op["kind"][0].upper() for op in ops)
    assert kinds.replace("L", "R").replace("C", "R") == commit_stream.TEMPLATE
    slices = [op["slice"] for op in ops if op["kind"] == "append"]
    assert len(set(slices)) == len(slices)


# -- checks ------------------------------------------------------------------

def _wants(ops, orders):
    model = commit_stream.Model(orders)
    return [model.apply(op) for op in ops]


def test_dropped_slice_fails_the_commit_stream_check():
    orders = inputs.orders(3)
    ops = commit_stream.plan(3)
    for op, want in zip(ops, _wants(ops, orders)):
        op["want"] = want
    dropped = next(i for i, op in enumerate(ops) if op["kind"] == "append")
    sabotaged = ops[:dropped] + ops[dropped + 1:]
    got = _wants(sabotaged, orders)
    got.insert(dropped, None)
    assert all(commit_stream.matches(op, op["want"]) for op in ops)
    assert not all(commit_stream.matches(op, g) for op, g in zip(ops, got))


def test_dropped_slice_fails_the_query_check():
    cols = ["k", "v"]
    rows = [(i, float(i) / 3) for i in range(50)]
    assert query_mix.matches_oracle(cols, list(reversed(rows)), cols, rows)
    assert not query_mix.matches_oracle(cols, rows[:10] + rows[11:], cols, rows)
    assert not query_mix.matches_oracle(["k", "w"], rows, cols, rows)


# -- metric names and layers ---------------------------------------------------

def test_metric_names_are_well_formed():
    names = list(catalog.END_TO_END) + list(catalog.PER_LAYER) + list(catalog.WORKLOADS)
    for n in names:
        assert catalog.NAME_RE.fullmatch(n), n
        assert len(n) <= 64
    assert len(set(names)) == len(names)


def test_benchmark_json_matches_catalog():
    b = _bench_json()
    assert [w["name"] for w in b["workloads"]] == list(catalog.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]} == catalog.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == catalog.PER_LAYER
    assert "setup_s" in catalog.END_TO_END
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])


def test_traced_report_has_every_layer_metric():
    assert set(catalog.full_layer({})) == set(catalog.PER_LAYER)
    assert all(v["value"] == 0.0 for v in catalog.full_layer({}).values())
    got = catalog.full_layer({"lake.files_after": 6})
    assert got["lake.files_after"]["value"] == 6.0
    unit = {"reads_ms": [1.0, 2.0], "read_plan_ms": [1.0], "read_exec_ms": [1.0],
            "meta_bytes": 1, "files_after": 1, "orphans_ratio": 1.0,
            "ms": {"append": [1.0], "delete": [1.0], "read": [1.0]},
            "deletes_pending": 1, "journal": 1}
    for cls in (fleet_sweep.FleetSweep, commit_stream.CommitStream,
                query_mix.QueryMix):
        found = cls(_Ctx()).layers([unit])
        assert set(found) <= set(catalog.PER_LAYER), cls


# -- helpers -------------------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert common.tail(list(range(10)))[0] == 0.0
    q, _, n = common.tail(list(range(100)))
    assert (q, n) == (90.0, 100)


def test_self_time_subtracts_covered_child_time():
    pool = [tracing.Span(0, None, "run", "", 0.0, 10.0),
            tracing.Span(1, 0, "a", "", 1.0, 4.0),
            tracing.Span(2, 0, "b", "", 3.0, 6.0),
            tracing.Span(3, 1, "c", "", 1.5, 2.0)]
    assert tracing.self_time(pool[0], pool) == 5.0
    assert tracing.union_seconds([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_traced_run_prints_every_layer_metric():
    """End to end: one short traced commit_stream run (about a minute)."""
    import subprocess

    root = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "commit_stream", "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(catalog.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["lake.append.n"] == commit_stream.TEMPLATE.count("A")
    assert m["spark.stages"] > 0 and m["trace.overhead"] > 0
    assert m["orchestrator.run_s"] == 0.0  # not reached on this workload
