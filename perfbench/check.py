"""Answer checkers: compare what the engine returned with the numpy
ground truth from ``gen``. Each returns a list of error strings (empty
means correct); inputs are plain Python structures so the checkers run
without Spark."""

from __future__ import annotations

import math

import numpy as np

from .gen import Corpus

Stats = tuple[int, float, float, float]  # count, sum, min, max


def _first(errors: list[str], limit: int = 5) -> list[str]:
    return errors[:limit] + ([f"... {len(errors) - limit} more"] if len(errors) > limit else [])


def check_buckets(got: dict[tuple, Stats], want: dict[tuple, Stats], sum_tol: float = 0.0) -> list[str]:
    """Exact per-bucket (count, sum, min, max). Values are generated on
    a 1/8 grid, so sums are exact in doubles and compared with ==.
    Rates (derivative streams) are not on the grid: their sums depend
    on the order of addition and are compared within ``sum_tol``,
    relative or absolute."""
    errs = []
    for k in sorted(set(want) | set(got)):
        if k not in got:
            errs.append(f"missing bucket {k}")
        elif k not in want:
            errs.append(f"unexpected bucket {k}")
        else:
            (gc, gs, gmin, gmax), (wc, ws, wmin, wmax) = got[k], want[k]
            if (gc, gmin, gmax) != (wc, wmin, wmax) or not math.isclose(gs, ws, rel_tol=sum_tol, abs_tol=sum_tol):
                errs.append(f"bucket {k}: got {got[k]} want {want[k]}")
    return _first(errs)


def check_points(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> list[str]:
    """Raw points in time order, exactly."""
    if got == want:
        return []
    if len(got) != len(want):
        return [f"got {len(got)} points, want {len(want)}"]
    return _first([f"point {i}: got {g} want {w}" for i, (g, w) in enumerate(zip(got, want)) if g != w])


def check_fill(
    got: list[tuple[int, bool, float | None]],
    observed: dict[int, float],
    lo: int,
    hi: int,
    step: int,
) -> list[str]:
    """A ``fill="previous"`` answer on the grid ``[lo, hi)``: one row per
    grid bucket; observed buckets carry their own mean, generated ones
    (``filled``) the last observed mean before them, or None when
    there is none inside the window."""
    grid = list(range(lo, hi, step))
    if [b for b, _, _ in got] != grid:
        return [f"grid mismatch: got {len(got)} rows, want {len(grid)} buckets from {lo}"]
    errs, last = [], None
    for b, filled, v in got:
        if b in observed:
            last = observed[b]
            if filled or v != observed[b]:
                errs.append(f"bucket {b}: got ({filled}, {v}) want observed {observed[b]}")
        elif not filled or v != last:
            errs.append(f"bucket {b}: got ({filled}, {v}) want filled {last}")
    return _first(errs)


def check_set(got: set, want: set, what: str) -> list[str]:
    if got == want:
        return []
    return [f"{what}: {len(got - want)} unexpected, {len(want - got)} missing"]


#: Share of unique documents the MinHash stage may drop. The funnel's
#: default ``near_dup_refine="estimate"`` keeps pairs whose 32-hash
#: signature agreement clears the threshold, which the pipeline
#: documents as emitting false positives; the semantic stage compares
#: exact cosines and may drop none.
MAX_TEXT_FALSE_DROP = 0.01


def funnel_outcome(
    corpus: Corpus,
    expected: dict[str, set[int]],
    report: dict[str, int],
    survivors: set[int],
    sem_rows: list[tuple[int, bool]],
) -> tuple[list[str], dict[str, float]]:
    """Check one curation pass. Exact stages (exact dedup, quality
    floor, decontamination) must match the oracle's counts exactly and
    the survivors must lie inside the oracle's post-decontamination
    set. The two fuzzy stages (MinHash near-dup, semantic dedup) are
    judged on the planted labels: recall must clear a floor, the
    semantic stage may drop only planted vector duplicates, and the
    MinHash stage may drop at most ``MAX_TEXT_FALSE_DROP`` of the unique
    docs. Returns ``(errors, stats)`` with the recall and false-drop
    ratios."""
    errs = []
    want_counts = {"input": corpus.n_docs} | {k: len(v) for k, v in expected.items()}
    for k, v in want_counts.items():
        if report.get(k) != v:
            errs.append(f"stage {k}: got {report.get(k)} survivors, want {v}")
    pre = expected["decontaminated"]
    if not survivors <= pre:
        errs.append(f"{len(survivors - pre)} survivors the exact stages should have dropped")
    if report.get("near_dup_dedup") != len(survivors):
        errs.append("near_dup_dedup count disagrees with the returned survivors")

    # MinHash stage: drops among the decontaminated docs
    near = {i for i in corpus.label("near_dup") & pre if corpus.original[i] in pre}
    text_dropped = pre - survivors
    # semantic stage: one row per survivor, keep=False drops
    sem_ids = [i for i, _ in sem_rows]
    if sorted(sem_ids) != sorted(survivors):
        errs.append("semantic_dedup rows are not exactly the survivors")
    vec_dropped = {i for i, keep in sem_rows if not keep}
    vec = {
        i for i in corpus.label("vec_dup") & survivors if corpus.original[i] in survivors
    }
    planted = near | vec
    caught = (near & text_dropped) | (vec & vec_dropped)
    text_false = text_dropped - corpus.label("near_dup")
    vec_false = vec_dropped - corpus.label("vec_dup")
    unique = pre - corpus.label("near_dup") - corpus.label("vec_dup")
    stats = {
        "near_dup_recall": len(caught) / max(len(planted), 1),
        "false_drop_ratio": len(text_false | vec_false) / max(len(unique), 1),
        "text_recall": len(near & text_dropped) / max(len(near), 1),
        "vec_recall": len(vec & vec_dropped) / max(len(vec), 1),
    }
    if len(text_false) > MAX_TEXT_FALSE_DROP * len(unique):
        errs.append(f"MinHash stage dropped {len(text_false)} unique docs")
    if vec_false:
        errs.append(f"semantic stage dropped {len(vec_false)} docs that are no planted duplicate")
    if stats["text_recall"] < 0.9:
        errs.append(f"near-dup recall {stats['text_recall']:.3f} < 0.9")
    if stats["vec_recall"] < 0.5:
        errs.append(f"semantic-dup recall {stats['vec_recall']:.3f} < 0.5")
    return errs, stats


def range_truth(names, ts, values, wanted: set[str], lo: int, hi: int) -> dict[str, Stats]:
    """Exact (count, sum, min, max) per stream over ``lo <= ts < hi``."""
    m = (ts >= lo) & (ts < hi) & np.isin(names, list(wanted))
    out = {}
    for n in np.unique(names[m]):
        v = values[m & (names == n)]
        out[str(n)] = (int(len(v)), float(v.sum()), float(v.min()), float(v.max()))
    return out
