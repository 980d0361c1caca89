"""Fast checks of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import checks
import gen
import run

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def test_generator_is_deterministic_per_seed():
    def history(seed):
        return [d.table() for d in gen.history(seed, 300, 2, offline=("mx-1",),
                                               truncated_share=0.05)]

    assert all(a.equals(b) for a, b in zip(history(5), history(5)))
    assert not history(5)[0].equals(history(6)[0])

    def queries(seed):
        return gen.query_round(np.random.default_rng(seed), 1_704_067_200, 86_400)

    assert queries(5) == queries(5) != queries(6)


def test_oracle_models_gate_and_truncation():
    oracle = gen.Oracle()
    first, second = gen.history(3, 600, 2, offline=("mx-1",))
    assert oracle.apply(first) == {"dc-1": True, "fx-1": True, "mx-1": False}
    assert oracle.gated_points == first.packets["mx-1"][1].size
    late = gen.Delivery()
    late.add_status("mx-1", max(second.arrival_us) + 1, "online")
    oracle.apply(late)
    # the latest status by arrival time wins, not the last one delivered
    assert oracle.apply(second)["mx-1"]

    d = gen.history(1, 600, 1, truncated_share=0.1)[0]
    cut = sum(d.sent.values()) - sum(len(e) for e, _ in d.packets.values())
    assert cut > 0
    full = {gen.data_topic(m): 4 + 8 * len(f) + gen.PADDING[m]
            for m, f in gen.FIELDS.items()}
    assert sum(len(p) < full[t] for t, p in zip(d.topic, d.payload)
               if t in full) == cut


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench"))
    run.configure(path, 2)
    yield path
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        SparkSession.getActiveSession().stop()
    run.stop_jvm()


def test_oracle_equals_store_after_tiny_ingest(work):
    from solar_logger_spark.engine import SolarEngine
    from solar_logger_spark.session import get_spark

    import workloads

    history = gen.history(9, 240, 2, offline=("mx-1",), truncated_share=0.05)
    in_dir = os.path.join(work, "tiny_in")
    workloads.write_inputs(history, in_dir)
    oracle = gen.Oracle()
    for d in history:
        oracle.apply(d)
    assert oracle.gated_points > 0 and oracle.points > 0

    spark = get_spark(master="local[2]")
    engine = SolarEngine(spark, store_dir=os.path.join(work, "tiny_store"))
    engine.ingest(in_dir).awaitTermination(120)
    assert checks.store_mismatches(engine.store_dir, oracle) == []
    assert engine.points().count() == oracle.points


@pytest.mark.parametrize("workload", ["backfill", "dashboard"])
@pytest.mark.parametrize("traced", [False, True])
def test_output_carries_every_metric(work, workload, traced, monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "WARM_SECONDS", 120)
    monkeypatch.setattr(workloads, "BACKFILL_SECONDS", 600)
    monkeypatch.setattr(workloads, "DASH_SECONDS", 6 * 3600)
    bench = workloads.WORKLOADS[workload](
        workload, 4, 0.1, traced, os.path.join(work, f"{workload}-{traced}"), 2)
    try:
        bench.setup()
        bench.run()
    finally:
        bench.close()
    assert bench.failures == [] and bench.attempted > 0
    metrics = bench.per_layer() if traced else bench.end_to_end()
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: unit for k, (_, unit) in metrics.items()}
    assert all(np.isfinite(v) for v, _ in metrics.values())
