"""Tests of the benchmark itself: its output checks, its failure
accounting, its spans and its agreement with BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.spans import Tracer, _Traced  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


# ---------------------------------------------------------------- metric names


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in spec["end_to_end"])


def test_run_without_engine_fails_without_a_result(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    exits non-zero and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "data"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ---------------------------------------------------------------- output checks


def test_fingerprint_rejects_a_wrong_result(spark):
    from perfbench.batch import check_output
    from perfbench.check import fingerprint

    good = spark.createDataFrame([(1, 0.1 + 0.2, "a"), (2, 1.5, None)], "k long, x double, s string")
    pin = fingerprint(good)
    shuffled = spark.createDataFrame([(2, 1.5, None), (1, 0.3, "a")], "k long, x double, s string")
    assert check_output(shuffled, pin) == []  # row order and last-bit rounding do not matter
    wrong = spark.createDataFrame([(1, 0.3, "a"), (2, 1.6, None)], "k long, x double, s string")
    assert check_output(wrong, pin)
    missing = spark.createDataFrame([(1, 0.3, "a")], "k long, x double, s string")
    assert check_output(missing, pin)
    assert check_output(good, None) == ["no pinned output"]


def test_keyed_check_rejects_a_wrong_result(spark, tmp_path):
    import random

    from perfbench.keyed import TTJoin

    op = TTJoin(spark, str(tmp_path), 10, 2, random.Random(7))
    op.final = {3: 99, 5: 7}
    right = {k: (99 if k == 3 else 7 if k == 5 else k) for k in range(10)}
    rows = [(k, right[k], 0, 2 * k + 1, 0) for k in range(10)]
    schema = "k long, lv long, lo long, rv long, ro long"
    assert op.check(spark.createDataFrame(rows, schema)) == []
    rows[5] = (5, 8, 0, 11, 0)
    assert op.check(spark.createDataFrame(rows, schema))


# ---------------------------------------------------------------- failure accounting


def test_injected_exception_counts_as_failed(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    from perfbench import batch
    from perfbench.check import fingerprint
    from perfbench.sparkstats import ProgressLog

    def good(s, _dir):
        return s.range(3)

    def broken(s, _dir):
        raise RuntimeError("injected")

    names = ("qa_good", "qb_broken", "qc_wrong")
    registry = {batch.WARMUP: good, "qa_good": good, "qb_broken": broken, "qc_wrong": lambda s, d: s.range(4)}
    monkeypatch.setattr(entry, "queries", lambda: registry)
    monkeypatch.setattr(batch, "QUERIES", names)
    pin = fingerprint(spark.range(3))
    monkeypatch.setattr(batch, "load_pins", lambda: {n: pin for n in names})

    run = bench.Run("batch", 1, 0.0, False, str(tmp_path))
    run.spark, run.progress = spark, ProgressLog()
    values = batch.run(run)
    assert run.attempted == 3
    assert [item for item, _ in run.failures] == ["qb_broken", "qc_wrong"]
    assert "injected" in run.failures[0][1]
    assert values["first_result_s"] > 0


def test_failing_operator_counts_once(spark, tmp_path, monkeypatch):
    """An operator whose drain raises is one attempted item and one failure."""
    from perfbench import keyed
    from perfbench.sparkstats import ProgressLog

    class Broken(keyed.Operator):
        name = "broken"

        def stage(self):
            pass

        def drain(self):
            raise RuntimeError("injected")

    class Warm(Broken):
        def drain(self):
            pass

    monkeypatch.setattr(keyed, "TTJoin", Warm)  # the set-up warm-up operator
    monkeypatch.setattr(keyed, "OPERATORS", (Broken,))
    run = bench.Run("keyed_stream", 1, 0.0, False, str(tmp_path))
    run.spark, run.progress = spark, ProgressLog()
    keyed.run(run, 10, 1, 10)
    assert (run.attempted, [item for item, _ in run.failures]) == (1, ["broken"])


# ---------------------------------------------------------------- spans


def test_span_self_times_are_non_negative_and_spans_nest():
    t = Tracer("test")
    with t.span("outer", "bench", "step") as outer:
        with t.span("a", "dsl", "call"):
            with t.span("b", "llmops", "call"):
                pass
        with t.span("c", "dsl", "call"):
            pass
    t.add("job", "spark", "job", 0.0, 1e12, outer)  # clipped into its parent
    by_id = {s.id: s for s in t.spans}
    for s in t.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    selfs = t.self_times()
    assert all(v >= 0 for v in selfs.values())
    outer_span = by_id[outer]
    assert selfs[outer] == pytest.approx(0.0, abs=1e-9)  # fully covered by the job span
    assert sum(selfs[s.id] for s in t.spans if s.kind == "call") <= outer_span.duration + 1e-9


def bench_span(sid, start, end, parent):
    from perfbench.spans import Span

    return Span(sid, f"s{sid}", "bench", "call", start, end, parent, "test", {})


def test_self_time_subtracts_the_union_of_children():
    t = Tracer("test")
    t.spans.append(bench_span(1, 0.0, 10.0, None))
    t.spans.append(bench_span(2, 1.0, 4.0, 1))
    t.spans.append(bench_span(3, 3.0, 6.0, 1))  # overlaps span 2
    t.spans.append(bench_span(4, 8.0, 9.0, 1))
    assert t.self_times()[1] == pytest.approx(10.0 - 5.0 - 1.0)


def test_wrappers_record_calls_and_uninstall(monkeypatch):
    mod = types.ModuleType("pb_fake_engine")
    exec(
        "def public(x):\n    return helper(x) + 1\n"
        "def helper(x):\n    return x * 2\n"
        "def _private(x):\n    return x\n"
        "class Thing:\n    def method(self, x):\n        return public(x)\n",
        mod.__dict__,
    )
    user = types.ModuleType("pb_fake_user")
    user.public = mod.public
    monkeypatch.setitem(sys.modules, "pb_fake_engine", mod)
    original = mod.public
    t = Tracer("test")
    t.install({"pb_fake_engine": "dsl"}, rebind=[user])
    assert isinstance(mod.public, _Traced) and user.public is mod.public
    assert mod.Thing().method(3) == 7
    assert [s.name for s in t.spans] == ["helper", "public", "Thing.method"]
    inner, middle, outer = t.spans
    assert inner.parent == middle.id and middle.parent == outer.id
    assert pickle.loads(pickle.dumps(mod.public)) is mod.public  # pickles by reference
    t.uninstall()
    assert mod.public is original and user.public is original
