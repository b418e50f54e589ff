"""The batch workload: driver-contract queries built through
``__spark_entry__.queries()[name](spark, data_dir)`` and materialized with
noop writes, exactly as the external driver runs them.

Each query is built, written once (the first result) and written again
``RERUNS`` times (the re-run); its output is then checked, untimed, against the pinned row
count and fingerprint in ``pins.json``.  The work is fixed, so a faster
engine does not change what is measured (re-run rounds that filled the time
budget also grew the retained heap with every extra SQL execution).
``llmops.release_cache()`` is never called, as under an external driver
of the ``__spark_entry__`` contract.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.check import fingerprint

# Streamiz-DSL queries: plans built through dsl/windows, about one build
# job each, no persists and no Python workers
DSL_QUERIES = (
    "q01_pricing_summary",
    "q25_window_tumbling_count",
    "q29_ss_join_inner",
    "q61_session_window",
    "q62_asof_join",
    "q72_composed_pipeline",
)

# llmops/analytics/codec queries: build-time probe jobs and persists
# (q43/q151), many jobs per run (q110), Python workers (q103/q168)
CURATION_QUERIES = (
    "q43_dedup_minhash",
    "q151_jaccard_exact",
    "q110_dsir_weights",
    "q146_sessionize",
    "q103_avro_wire",
    "q168_jpeg_roundtrip",
)

QUERIES = DSL_QUERIES + CURATION_QUERIES

# re-run writes per query; the per-layer Spark metrics read the first
# ("steady"), the end-to-end re-run time is their median
RERUNS = 2

# untimed warm-up, part of set-up: first-touch code generation and the
# first Python-worker start (applyInPandas)
WARMUP = "q19_grouped_aggregate_py"

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_output(df, pin: dict | None) -> list[str]:
    if pin is None:
        return ["no pinned output"]
    got = fingerprint(df)
    return [f"{k}: got {got[k]} want {pin[k]}" for k in ("rows", "hash") if got[k] != pin[k]]


def run(ctx) -> dict:
    import __spark_entry__ as entry  # noqa: PLC0415 - resolved from the checkout root

    spark, data = ctx.spark, ctx.data_dir
    pins = load_pins()
    with ctx.setup_phase("registry"):
        qs = entry.queries()
    with ctx.setup_phase("warmup"):
        noop(qs[WARMUP](spark, data))
    ctx.setup_done()

    first, steady = {}, {}
    for name in QUERIES:
        ctx.attempted += 1
        try:
            with ctx.step(name, "build") as b:
                df = qs[name](spark, data)
            with ctx.step(name, "cold") as c:
                noop(df)
            reruns = []
            for phase in ("steady",) + ("rerun",) * (RERUNS - 1):
                with ctx.step(name, phase) as s:
                    noop(df)
                reruns.append(s["seconds"])
        except Exception as exc:  # a failing query counts, the run goes on
            ctx.fail(name, exc)
            continue
        first[name] = b["seconds"] + c["seconds"]
        steady[name] = statistics.median(reruns)
        try:
            issues = check_output(df, pins.get(name))
        except Exception as exc:  # an output that cannot be read is a wrong output
            issues = [repr(exc)]
        if issues:
            ctx.fail(name, "; ".join(issues))

    ctx.query_times = {name: (first[name], steady[name]) for name in first}
    return {
        "first_result_s": sum(first.values()),
        "rerun_s": sum(steady.values()),
        "step_p50_s": statistics.median(steady.values()) if steady else 0.0,
    }


def layer_metrics(query_times: dict) -> dict:
    """First-result and re-run sums of the DSL and the curation queries."""
    out = {}
    for group, names in (("dsl", DSL_QUERIES), ("curation", CURATION_QUERIES)):
        times = [query_times[n] for n in names if n in query_times]
        out[f"queries.{group}_first_result_s"] = sum(t[0] for t in times)
        out[f"queries.{group}_rerun_s"] = sum(t[1] for t in times)
    return out
