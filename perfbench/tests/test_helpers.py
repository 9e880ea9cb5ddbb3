"""Tests for the benchmark's own helpers (no Spark needed):

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, measure, spans  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- the percentile rule -------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(list(range(1, 20))) is None  # 9 beyond p50
    assert measure.tail_percentile(list(range(1, 21))) == (50.0, 10)
    assert measure.tail_percentile(list(range(1, 100))) == (50.0, 50)  # 9 beyond p90
    assert measure.tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert measure.tail_percentile(list(range(1, 1001))) == (99.0, 990)


def test_tail_percentile_counts_ties_as_not_beyond():
    # ten samples above a plateau: p90 sits on the plateau, the ten
    # larger values are beyond it
    xs = [1.0] * 90 + [float(i) for i in range(2, 12)]
    assert measure.tail_percentile(xs) == (90.0, 1.0)


# -- the span miner ------------------------------------------------------------


def _fixture():
    with open(os.path.join(DATA, "spans_small.json")) as f:
        recorded = [spans.Span(**s) for s in json.load(f)]
    jobs = spans.read_jobs([os.path.join(DATA, "eventlog_small.jsonl")])
    return recorded, jobs


def test_miner_attributes_jobs_by_local_property():
    recorded, jobs = _fixture()
    mined = spans.mine(recorded, jobs)
    # the aggregate: a shuffle map stage plus a result stage, no listing
    agg = mined["fixture.aggregate"]
    assert agg["calls"] == 1 and agg["jobs"] >= 1 and agg["stages"] >= 2
    assert agg["shuffle_write_bytes"] > 0 and agg["listing_jobs"] == 0
    # reading a table with more partition dirs than the parallel-listing
    # threshold runs a listing job whose description Spark overwrote;
    # the property still attributes it to the span
    scan = mined["fixture.scan"]
    assert scan["listing_jobs"] >= 1 and scan["jobs"] > scan["listing_jobs"]
    assert scan["input_bytes"] > 0
    # the job submitted outside every span is attributed to none
    attributed = sum(c["jobs"] for c in mined.values())
    assert attributed == sum(1 for j in jobs if j.span is not None) < len(jobs)


def test_miner_times_are_consistent():
    recorded, jobs = _fixture()
    mined = spans.mine(recorded, jobs)
    for name, c in mined.items():
        assert 0 <= c["driver_s"] <= c["busy_s"] + 1e-9, name
        assert c["self_s"] <= c["busy_s"] + 1e-9, name
        assert c["cpu_s"] <= c["task_s"] * 1.5 + 0.5, name
    # the parent's self time excludes its children, and its driver time
    # excludes the jobs its children ran
    op = mined["fixture.op"]
    assert op["self_s"] < op["busy_s"] and op["jobs"] == 0
    assert op["driver_s"] < op["busy_s"] - mined["fixture.aggregate"]["busy_s"] / 2


def test_self_time_and_driver_time_on_synthetic_spans():
    s = [
        spans.Span(1, "op", 0.0, 10.0, None, 0),
        spans.Span(2, "a", 1.0, 4.0, 1, 0),
        spans.Span(3, "b", 3.0, 6.0, 1, 0),
    ]
    assert spans.self_times(s) == {1: 5.0, 2: 3.0, 3: 3.0}
    jobs = [
        spans.Job(span=2, start=1.5, end=2.0, listing=False),
        spans.Job(span=2, start=1.8, end=2.5, listing=True),
        spans.Job(span=None, start=0.0, end=10.0, listing=False),
    ]
    m = spans.mine(s, jobs)
    assert m["a"]["driver_s"] == 2.0 and m["a"]["jobs"] == 2 and m["a"]["listing_jobs"] == 1
    assert m["b"]["driver_s"] == 3.0 and m["b"]["jobs"] == 0


# -- generator determinism -----------------------------------------------------


def test_timeseries_generator_is_deterministic():
    a, b, c = gen.TimeSeries(5, n_batches=2), gen.TimeSeries(5, n_batches=2), gen.TimeSeries(6, n_batches=2)
    for x, y in zip(a.batches, b.batches):
        for k in ("name", "ts", "value"):
            assert np.array_equal(x[k], y[k])
    assert a.truth_buckets(2, 3600) == b.truth_buckets(2, 3600)
    assert a.truth_buckets(2, 3600, derived=True) == b.truth_buckets(2, 3600, derived=True)
    assert not np.array_equal(a.batches[0]["ts"], c.batches[0]["ts"])


def test_timeseries_stays_under_the_rollup_overflow_cap():
    ts = gen.TimeSeries(5, n_batches=4)
    for derived in (False, True):
        days = ts.truth_buckets(4, 86400, derived=derived)
        assert max(c for c, *_ in days.values()) < 5000
    assert ts.batches[0]["hi"] - ts.batches[0]["lo"] > 86400  # one batch spans a UTC day


def test_corpus_generator_is_deterministic():
    a, b, c = gen.Corpus(5, n_docs=300), gen.Corpus(5, n_docs=300), gen.Corpus(6, n_docs=300)
    assert a.texts == b.texts and np.array_equal(a.embeddings, b.embeddings)
    assert list(a.kinds) == list(b.kinds) and a.original == b.original
    assert a.texts != c.texts


def test_corpus_labels_hold_under_the_oracle():
    c = gen.Corpus(5, n_docs=500)
    exp = gen.expected_funnel(c)
    assert not (c.label("exact_dup") & exp["exact_dedup"])
    assert not (c.label("low_quality") & exp["quality_filter"])
    assert not (c.label("contaminated") & exp["decontaminated"])


def test_derived_points_follow_the_derive_operators():
    ts = gen.TimeSeries(5, n_batches=2)
    p, d = ts.points(2), ts.derived_points(2)
    src = ts.streams[0].name
    t = np.sort(p["ts"][p["name"] == src])
    v = p["value"][p["name"] == src][np.argsort(p["ts"][p["name"] == src])]
    m = d["name"] == "d_deriv"
    assert np.array_equal(d["ts"][m], t[1:])  # the first point emits nothing
    assert d["value"][m][0] == (v[1] - v[0]) / (t[1] - t[0])
    # the counter only grows, so every consecutive pair yields a rate
    assert (d["name"] == "d_counter").sum() == (p["name"] == ts.streams[1].name).sum() - 1
    # the sum keeps one point per second any source holds, adding them up
    m = d["name"] == "d_sum"
    srcs = np.isin(p["name"], ts.sum_source_names)
    assert np.array_equal(d["ts"][m], np.unique(p["ts"][srcs]))
    assert d["value"][m].sum() == p["value"][srcs].sum()


# -- the checkers reject perturbed answers -------------------------------------


def test_check_buckets_rejects_a_perturbed_sum():
    ts = gen.TimeSeries(5, n_batches=1)
    want = ts.truth_buckets(1, 600)
    assert check.check_buckets(dict(want), want) == []
    bad = dict(want)
    k = next(iter(bad))
    c, s, lo, hi = bad[k]
    bad[k] = (c, s + 0.125, lo, hi)
    assert check.check_buckets(bad, want)
    del bad[k]
    assert check.check_buckets(bad, want) == [f"missing bucket {k}"]


def test_check_buckets_tolerates_only_rounding_in_rate_sums():
    want = {("d_deriv", 0): (3, 0.3, -0.1, 0.3)}
    close = {("d_deriv", 0): (3, 0.1 + 0.2 - 0.1 + 0.1, -0.1, 0.3)}
    assert check.check_buckets(close, want) and check.check_buckets(close, want, sum_tol=1e-9) == []
    off = {("d_deriv", 0): (3, 0.3001, -0.1, 0.3)}
    assert check.check_buckets(off, want, sum_tol=1e-9)
    assert check.check_buckets({("d_deriv", 0): (2, 0.3, -0.1, 0.3)}, want, sum_tol=1e-9)


def test_check_points_and_fill_reject_perturbations():
    want = [(10, 1.0), (11, 2.0)]
    assert check.check_points(list(want), want) == []
    assert check.check_points([(10, 1.0), (11, 2.5)], want)
    observed = {60: 1.5, 180: 2.5}
    good = [(0, True, None), (60, False, 1.5), (120, True, 1.5), (180, False, 2.5)]
    assert check.check_fill(good, observed, 0, 240, 60) == []
    assert check.check_fill([good[0], good[1], (120, True, 9.0), good[3]], observed, 0, 240, 60)
    assert check.check_fill(good[:3], observed, 0, 240, 60)


def test_funnel_outcome_rejects_a_dropped_unique_doc():
    c = gen.Corpus(5, n_docs=400)
    exp = gen.expected_funnel(c)
    pre = exp["decontaminated"]
    near = {i for i in c.label("near_dup") & pre if c.original[i] in pre}
    survivors = pre - near
    vec = {i for i in c.label("vec_dup") & survivors if c.original[i] in survivors}
    report = {"input": c.n_docs} | {k: len(v) for k, v in exp.items()}
    report["near_dup_dedup"] = len(survivors)
    sem = [(i, i not in vec) for i in sorted(survivors)]
    errs, stats = check.funnel_outcome(c, exp, report, survivors, sem)
    assert errs == [] and stats["near_dup_recall"] == 1.0 and stats["false_drop_ratio"] == 0.0
    # perturb: one unique doc dropped by the semantic stage (exact
    # cosines: no false drop is allowed)
    victim = min(survivors - vec - set(c.original.values()))
    sem_bad = [(i, k and i != victim) for i, k in sem]
    errs, stats = check.funnel_outcome(c, exp, report, survivors, sem_bad)
    assert errs and stats["false_drop_ratio"] > 0
    # the MinHash stage may drop up to MAX_TEXT_FALSE_DROP of the unique
    # docs (estimate refinement), not more
    uniques = sorted(survivors - vec - set(c.original.values()))
    allowed = int(check.MAX_TEXT_FALSE_DROP * len(pre - c.label("near_dup") - c.label("vec_dup")))
    for n_drop, ok in ((allowed, True), (allowed + 1, False)):
        kept = survivors - set(uniques[:n_drop])
        sem_k = [(i, k) for i, k in sem if i in kept]
        errs, stats = check.funnel_outcome(
            c, exp, report | {"near_dup_dedup": len(kept)}, kept, sem_k
        )
        assert (errs == []) == ok, (n_drop, errs)
    # perturb: a wrong stage count
    errs, _ = check.funnel_outcome(c, exp, report | {"quality_filter": 1}, survivors, sem)
    assert errs


# -- BENCHMARK.json agrees with the runner -------------------------------------


def test_benchmark_json_matches_the_runner():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert len(bench["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
