"""Checks on the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_checks.py -q
"""

import json
import os

import harness
import keyed
import registry
from observe import Spans, streaming_metrics


def _keyed_drain(counts: dict, rows_per_epoch: list[int]) -> dict:
    return {
        "batches": [(0, [{"key": k, "count": c, "epoch": 1} for k, c in counts.items()])],
        "queries": [{"batches": [{"batchId": e, "numInputRows": n} for e, n in enumerate(rows_per_epoch)]}],
    }


def test_keyed_check_passes_on_exact_release():
    inputs = {"expected": {"k1": 3, "k2": 5}, "rows_per_epoch": [4, 4], "epochs": 2}
    assert keyed.check(_keyed_drain({"k1": 3, "k2": 5}, [4, 4]), inputs) == (4, 0)


def test_perturbed_expectation_makes_failed_ratio_nonzero():
    d = _keyed_drain({"k1": 3, "k2": 5}, [4, 4])
    perturbed = {"expected": {"k1": 3, "k2": 6}, "rows_per_epoch": [4, 3], "epochs": 2}
    attempted, failed = keyed.check(d, perturbed)
    assert failed / attempted == 2 / 4

    passes = [{n: {"rows": 10} for n in registry.SAMPLE}]
    oracle = {n: 10 for n in registry.SAMPLE}
    assert registry.check(passes, oracle) == (len(registry.SAMPLE), 0)
    oracle[registry.SAMPLE[0]] = 11
    attempted, failed = registry.check(passes, oracle)
    assert failed / attempted > 0


def test_wordcount_check_bounds_total_and_per_word():
    sealed = {"bounded_words": 5, "word_counts": {"a": 3, "b": 2}}
    exact = {"batches": [(0, [{"key": "a", "count": 3}, {"key": "b", "count": 2}])]}
    assert registry.check_wordcount(exact, sealed) == (3, 0)
    over = {"batches": [(0, [{"key": "a", "count": 4}, {"key": "b", "count": 1}])]}
    assert registry.check_wordcount(over, sealed) == (3, 1)
    attempted, failed = registry.check_wordcount(exact, {**sealed, "bounded_words": 6})
    assert failed / attempted > 0


def test_registry_sample_keeps_the_registry_shares():
    """The sample's time shares (family, builder vs count(), stream
    replays), from the measured full pass, are within 4 points of the
    whole registry's."""
    with open(os.path.join(harness.HERE, "registry_survey.json")) as f:
        survey = json.load(f)["queries"]
    run = {n: q for n, q in survey.items() if not q["cache"]}
    assert set(registry.SAMPLE) <= set(run)

    def shares(names):
        total = sum(run[n]["build_s"] + run[n]["count_s"] for n in names)
        out = {"build": sum(run[n]["build_s"] for n in names) / total,
               "stream": sum(run[n]["build_s"] + run[n]["count_s"] for n in names if n.startswith("stream_")) / total}
        for n in names:
            fam = registry.family(n)
            out[fam] = out.get(fam, 0.0) + (run[n]["build_s"] + run[n]["count_s"]) / total
        return out

    full, sample = shares(list(run)), shares(registry.SAMPLE)
    assert set(full) == set(sample)
    for k in full:
        assert abs(full[k] - sample[k]) <= 0.04, (k, full[k], sample[k])


def test_latest_release_wins():
    batches = [(0, [{"key": "a", "count": 1, "epoch": 0}]), (1, [{"key": "a", "count": 4, "epoch": 1}])]
    assert keyed.final_release(batches) == {"a": 4}


def test_stage_totals_sum_to_pipeline_total():
    def batch(bid, ms):
        return {"batchId": bid, "numInputRows": 1, "stateOperators": [],
                "durationMs": {"triggerExecution": ms, "addBatch": ms - 1}}

    queries = [{"batches": [batch(0, 10), batch(1, 20)]}, {"batches": [batch(0, 30)]}, {"batches": [batch(0, 5)]}]
    m = streaming_metrics(queries)
    assert m["streaming.batch_s"] == sum(m[f"streaming.s{i}.batch_s"] for i in (1, 2, 3))
    assert m["streaming.batches"] == 4


def test_self_time_subtracts_covered_child_intervals():
    s = Spans()
    t = s.t0
    root = s.add("root", "a", t, t + 10)
    s.add("c1", "b", t + 1, t + 4, root)
    s.add("c2", "b", t + 3, t + 6, root)  # overlaps c1: union is 5 s
    out = s.self_times()
    assert abs(out["a"] - 5) < 1e-9 and abs(out["b"] - 6) < 1e-9


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["dp_keyed", "registry"]


def test_family_map():
    assert [registry.family(n) for n in ("dedup_exact", "docs_x", "q1_pricing_summary", "q_top_orders",
                                         "quality_deciles", "emb_covariance", "dp_unique_users",
                                         "stream_dq_replay")] == [
        "dedup", "text", "tpch", "tpch", "other", "knn", "dp", "other"]
