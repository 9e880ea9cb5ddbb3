"""Seeded input generators with ground truth.

Everything here is pure numpy/Python: the same seed always yields the
same inputs and the same expected answers, and nothing imports Spark,
so the generators and the oracles they feed can be tested on their own.

Two generators:

- ``TimeSeries``: numeric streams with tags, Zipf-uneven per-stream
  rates, a counter stream and three derived streams, cut into batches
  of consecutive simulated hours that together span more than one UTC
  day. ``derived_points`` gives the derived streams' points and
  ``truth_buckets`` the per-bucket count/sum/min/max at every ladder
  level, raw or derived, for any prefix of the batches.
- ``Corpus``: documents over a Zipf vocabulary with log-normal lengths
  and 64-d embeddings, with planted exact duplicates, near-duplicate
  clusters, eval-contaminated documents, low-quality documents and
  near-duplicate vectors, all labelled.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass

import numpy as np

#: The engine's downsample ladder (granularity name, bucket seconds);
#: ``seconds`` is the raw level.
LEVELS = [
    ("10seconds", 10),
    ("minutes", 60),
    ("10minutes", 600),
    ("hours", 3600),
    ("6hours", 21600),
    ("days", 86400),
]

#: Simulated time starts at a fixed UTC midnight so bucket boundaries
#: and UTC days are the same for every seed.
EPOCH0 = int(dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc).timestamp())

HOSTS = ["h0", "h1", "h2", "h3", "h4", "h5"]
METRICS = ["cpu", "mem", "net", "disk"]


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@dataclass
class StreamSpec:
    name: str
    tags: dict
    per_hour: float  # expected points per simulated hour
    counter: bool = False


#: Time-series sizes. The hottest stream's daily point count is capped
#: at ``MAX_PER_DAY``: the engine's rollups keep ``sum(unix_micros(ts))``
#: in a 64-bit column, which overflows once one (stream, bucket) holds
#: more than ~5,200 points at present-day timestamps, so a day bucket
#: must stay below that for every stream, the summed derived stream
#: included.
N_STREAMS = 32
STREAM_ZIPF_S = 1.1
HOURS_PER_BATCH = 30  # the first batch already spans a whole UTC day
N_BATCHES = 12
MAX_PER_DAY = 3000
SUM_SOURCES = 8


class TimeSeries:
    """Seeded time-series workload input: ``N_STREAMS`` raw streams
    (one a monotone counter) and three derived streams, cut into
    ``n_batches`` batches of ``HOURS_PER_BATCH`` consecutive hours."""

    def __init__(self, seed: int, n_batches: int = N_BATCHES):
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        w = zipf_weights(N_STREAMS, STREAM_ZIPF_S)
        order = rng.permutation(N_STREAMS)  # which name gets which rank
        per_day = w / w.max() * MAX_PER_DAY
        self.streams: list[StreamSpec] = []
        for i in range(N_STREAMS):
            rate = float(per_day[order[i]])
            self.streams.append(
                StreamSpec(
                    name=f"s{i:03d}",
                    tags={
                        "host": HOSTS[i % len(HOSTS)],
                        "metric": METRICS[(i // len(HOSTS)) % len(METRICS)],
                    },
                    per_hour=max(rate / 24.0, 1.0),
                    counter=(i == 1),
                )
            )
        # the summed derived stream reads the coldest streams, so the
        # union of their timestamps stays under the per-day cap too
        by_rate = sorted(range(N_STREAMS), key=lambda i: self.streams[i].per_hour)
        self.sum_source_names = [self.streams[i].name for i in by_rate[:SUM_SOURCES]]
        self.batches = [self._batch(b) for b in range(n_batches)]

    @property
    def derived(self) -> list[dict]:
        """Derived stream definitions (query tags name -> op/sources)."""
        return [
            {"name": "d_sum", "op": "sum", "from": self.sum_source_names},
            {"name": "d_deriv", "op": "derivative", "from": [self.streams[0].name]},
            {"name": "d_counter", "op": "counter_derivative", "from": [self.streams[1].name]},
        ]

    def _batch(self, b: int) -> dict:
        rng = np.random.default_rng([self.seed, 2, b])
        lo = EPOCH0 + b * HOURS_PER_BATCH * 3600
        span = HOURS_PER_BATCH * 3600
        names, ts, vals = [], [], []
        for k, s in enumerate(self.streams):
            n = min(int(rng.poisson(s.per_hour * HOURS_PER_BATCH)), span)
            t = np.sort(rng.choice(span, size=n, replace=False)).astype(np.int64) + lo
            if s.counter:
                # monotone counter: cumulative integer increments, with
                # the batch's start offset so batches keep increasing
                v = np.cumsum(rng.integers(1, 50, size=n)).astype(np.float64) + b * 1e6
            else:
                # values on a 1/8 grid: exactly representable, so sums
                # are order-independent and the oracle can compare exactly
                v = np.round(rng.normal(50.0 + k, 10.0, size=n) * 8) / 8
            names.append(np.full(n, s.name))
            ts.append(t)
            vals.append(v)
        return {
            "lo": lo,
            "hi": lo + span,  # exclusive; the batch's downsample `until`
            "name": np.concatenate(names),
            "ts": np.concatenate(ts),
            "value": np.concatenate(vals),
        }

    def points(self, upto: int) -> dict:
        """All raw points in batches ``[0, upto)``, concatenated."""
        bs = self.batches[:upto]
        return {k: np.concatenate([b[k] for b in bs]) for k in ("name", "ts", "value")}

    def derived_points(self, upto: int) -> dict:
        """The derived streams' points after batches ``[0, upto)``, as
        the engine's derive operators define them: ``sum`` adds the
        sources' values per second, ``derivative`` is the rate between
        consecutive points, ``counter_derivative`` the same rate with
        negative deltas dropped. Every output sits at the second (or
        the later point's time) it was computed for."""
        p = self.points(upto)
        parts = []
        for d in self.derived:
            m = np.isin(p["name"], d["from"])
            ts, v = p["ts"][m], p["value"][m]
            if d["op"] == "sum":
                ts, inv = np.unique(ts, return_inverse=True)
                v = np.bincount(inv, weights=v, minlength=len(ts))
            else:  # one source: the rate between consecutive points
                o = np.argsort(ts, kind="stable")
                ts, v = ts[o], v[o]
                dv, dt = np.diff(v), np.diff(ts).astype(np.float64)
                keep = dv >= 0 if d["op"] == "counter_derivative" else np.ones(len(dv), bool)
                ts, v = ts[1:][keep], (dv / dt)[keep]
            parts.append((np.full(len(ts), d["name"]), ts, v))
        return {k: np.concatenate([x[j] for x in parts]) for j, k in enumerate(("name", "ts", "value"))}

    def truth_buckets(self, upto: int, level_seconds: int, derived: bool = False) -> dict:
        """Expected complete buckets at one ladder level after batches
        ``[0, upto)`` were appended and downsampled to the last batch's
        end: ``{(name, bucket_epoch): (count, sum, min, max)}``, for the
        raw streams or, with ``derived``, for the derived ones."""
        p = self.derived_points(upto) if derived else self.points(upto)
        until = self.batches[upto - 1]["hi"]
        cutoff = until // level_seconds * level_seconds
        keep = p["ts"] // level_seconds * level_seconds < cutoff
        return bucket_stats(p["name"][keep], p["ts"][keep], p["value"][keep], level_seconds)


def bucket_stats(names, ts, values, level_seconds) -> dict:
    """Exact (count, sum, min, max) per (name, bucket) in numpy."""
    if len(ts) == 0:
        return {}
    b = ts // level_seconds * level_seconds
    order = np.lexsort((b, names))
    names, b, values = names[order], b[order], values[order]
    new = np.ones(len(b), dtype=bool)
    new[1:] = (names[1:] != names[:-1]) | (b[1:] != b[:-1])
    starts = np.flatnonzero(new)
    counts = np.diff(np.append(starts, len(b)))
    sums = np.add.reduceat(values, starts)
    mins = np.minimum.reduceat(values, starts)
    maxs = np.maximum.reduceat(values, starts)
    return {
        (str(names[s]), int(b[s])): (int(c), float(sm), float(mn), float(mx))
        for s, c, sm, mn, mx in zip(starts, counts, sums, mins, maxs)
    }


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------

#: The engine's English stopword lexicon (``textops.LANG_LEXICONS["en"]``)
STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "that"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(_LETTERS, size=k)))
    return sorted(words)


#: Corpus sizes and planted shares (of ``n_docs``).
N_DOCS = 2000
VOCAB_SIZE = 6000
VOCAB_ZIPF_S = 1.05
DIM = 64
N_EVAL = 40
PLANTED = {
    "exact_dup": 0.05,
    "near_dup": 0.05,
    "contaminated": 0.02,
    "low_quality": 0.04,
    "vec_dup": 0.04,
}


class Corpus:
    """Seeded document corpus with planted, labelled defects.

    Labels (all doc-id sets):
    - ``exact_dup``: normalized-text copies of a lower-id unique doc;
    - ``near_dup``: token-edited copies of a lower-id unique doc
      (char-3-gram Jaccard well above the funnel's 0.6 threshold);
    - ``contaminated``: docs carrying a 12-token span of an eval doc;
    - ``low_quality``: short, punctuation-heavy docs;
    - ``vec_dup``: docs whose embedding is a near copy of a lower-id
      unique doc's embedding (text otherwise unique).
    """

    def __init__(self, seed: int, n_docs: int = N_DOCS):
        self.seed, self.n_docs = seed, n_docs
        rng = np.random.default_rng([seed, 3])
        vocab = rng.permutation(_vocab(rng, VOCAB_SIZE))  # rank order != spelling
        cdf = np.cumsum(zipf_weights(VOCAB_SIZE, VOCAB_ZIPF_S))
        stops = np.array(STOPWORDS)

        def draw(n):
            return vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)]

        def sentence(n):
            toks = draw(n)
            hit = rng.random(n) < 0.12
            toks[hit] = stops[rng.integers(len(stops), size=int(hit.sum()))]
            return list(toks)

        def length():
            return int(np.clip(rng.lognormal(np.log(110), 0.45), 40, 400))

        self.eval_texts = [" ".join(sentence(length())) for _ in range(N_EVAL)]
        eval_toks = [t.split(" ") for t in self.eval_texts]

        n = self.n_docs
        kinds = np.array(["unique"] * n, dtype=object)
        # planted docs never sit in the first 10% of ids, so each has a
        # lower-id unique original to copy from
        slots = rng.permutation(np.arange(n // 10, n))
        pos = 0
        for kind, share in PLANTED.items():
            k = int(n * share)
            kinds[slots[pos : pos + k]] = kind
            pos += k
        self.kinds = kinds

        texts: list[str] = [""] * n
        vecs = rng.normal(size=(n, DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        self.original: dict[int, int] = {}
        for i in range(n):
            kind = kinds[i]
            if kind in ("exact_dup", "near_dup", "vec_dup"):
                src = int(rng.integers(0, i))
                while kinds[src] != "unique":
                    src = int(rng.integers(0, i))
                self.original[i] = src
            if kind == "exact_dup":
                texts[i] = _restyle(rng, texts[src])
            elif kind == "near_dup":
                toks = texts[src].split(" ")
                k = max(1, len(toks) // 40)  # ~2.5% of tokens edited
                for j in rng.choice(len(toks), size=k, replace=False):
                    toks[j] = str(vocab[int(rng.integers(VOCAB_SIZE))])
                texts[i] = " ".join(toks)
            elif kind == "contaminated":
                toks = sentence(length())
                e = eval_toks[int(rng.integers(N_EVAL))]
                at = int(rng.integers(0, len(e) - 12))
                ins = int(rng.integers(0, len(toks)))
                texts[i] = " ".join(toks[:ins] + e[at : at + 12] + toks[ins:])
            elif kind == "low_quality":
                toks = draw(int(rng.integers(6, 14)))
                texts[i] = " ".join(t + "!!" + "?" * int(rng.integers(1, 4)) for t in toks)
            else:  # unique and vec_dup: fresh text
                texts[i] = " ".join(sentence(length()))
            if kind == "vec_dup":
                v = vecs[src] + rng.normal(scale=0.02, size=DIM)
                vecs[i] = v / np.linalg.norm(v)
        self.texts = texts
        self.embeddings = np.round(vecs, 6)
        self.doc_ids = np.arange(n, dtype=np.int64)

    def label(self, kind: str) -> set[int]:
        return {int(i) for i in np.flatnonzero(self.kinds == kind)}


def _restyle(rng, text: str) -> str:
    """A copy equal to ``text`` under the engine's dedup normalization
    (lowercase, trim, whitespace runs collapsed) but not byte-equal."""
    toks = text.split(" ")
    out = []
    for t in toks:
        if rng.random() < 0.2:
            t = t.upper()
        out.append(t)
    seps = [" " if rng.random() < 0.8 else "  \t " for _ in out[:-1]] + [""]
    return "  " + "".join(t + s for t, s in zip(out, seps)) + " "


# ---------------------------------------------------------------------------
# Python mirrors of the funnel's deterministic stages (the oracle)
# ---------------------------------------------------------------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_PUNCT = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")


def norm_text(s: str) -> str:
    """Mirror of ``functions.norm_text``: lower, trim (Spark's ``trim``
    strips ASCII spaces only), collapse whitespace runs."""
    return _WS.sub(" ", s.lower().strip(" "))


def quality(text: str) -> float:
    """Mirror of ``textops.quality_score``'s rounded ``quality``."""
    toks = norm_text(text).split(" ")
    n_tok = len(toks)
    mean_wlen = len(norm_text(text)) / max(n_tok, 1)
    distinct = set(toks)
    sw = len(distinct & set(STOPWORDS)) / max(len(distinct), 1)
    pr = len(_PUNCT.findall(text)) / max(len(text), 1)
    score = (
        min(n_tok / 100.0, 1.0) * 0.4
        + sw * 0.3
        + (1.0 - min(pr * 10.0, 1.0)) * 0.2
        + (0.1 if 3 <= mean_wlen <= 10 else 0.0)
    )
    return round(score, 6)


def ngrams(text: str, n: int) -> set[str]:
    toks = norm_text(text).split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def expected_funnel(corpus: Corpus, min_quality: float = 0.3, n: int = 5) -> dict:
    """Survivor id sets after the funnel's exact stages: exact dedup
    (lowest id per normalized text), the quality floor and
    decontamination. The near-dup stage is probabilistic (MinHash) and
    is checked against the planted labels instead."""
    keeper: dict[str, int] = {}
    for i, t in enumerate(corpus.texts):
        keeper.setdefault(norm_text(t), i)
    exact = set(keeper.values())
    qual = {i for i in exact if quality(corpus.texts[i]) >= min_quality}
    eval_grams = set().union(*(ngrams(t, n) for t in corpus.eval_texts))
    clean = {i for i in qual if not (ngrams(corpus.texts[i], n) & eval_grams)}
    return {"exact_dedup": exact, "quality_filter": qual, "decontaminated": clean}
