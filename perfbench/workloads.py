"""The benchmark's workloads. Each is one closed-loop client: an
operation starts only after the previous one returned.

A workload has three phases, driven by ``run.py``:

- ``setup(spark)``: generate the seeded inputs, land them as parquet
  files and prepare the engine objects;
- ``op(i)``: one timed operation; returns check thunks, so answers are
  verified after the timed loop;
- ``finish(n_ops)``: the workload-wide check after the loop.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import check, gen

UTC = dt.timezone.utc


def _utc(epoch: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch, UTC).replace(tzinfo=None)


def _epoch(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=UTC).timestamp())


class Timeseries:
    """Write path then read path over one store.

    Each op is one ingest cycle: ``Datastream.append_dataframe`` of the
    next landed batch, ``downsample_streams(until=batch end)`` through
    the whole ladder, then a burst of twelve reads over the fresh store:
    ``find_streams``, ``get_data`` at every rollup level (the 10 s level
    twice), at raw seconds and with ``fill="previous"`` at minutes, one
    ``aggregate_range`` and one ``scan`` at hours, on Zipf-popular
    streams with ~70% of windows in the most recent simulated day. The
    store check after the loop covers every level of every stream, the
    derived ones included."""

    name = "timeseries"
    #: derivative outputs are rates off the 1/8 grid; their bucket sums
    #: depend on the order of addition
    RATE_SUM_TOL = 1e-9

    def __init__(self, seed: int, work: str, spans):
        self.seed, self.work, self.spans = seed, work, spans
        self.ingest_s: list[float] = []
        self.query_s: list[float] = []  # per read
        self.burst_s: list[float] = []  # per read burst (one per cycle)
        self.points = 0

    # -- setup -------------------------------------------------------------

    def setup(self, spark) -> None:
        from datastream_spark.datastream import Datastream

        self.spark = spark
        self.data = gen.TimeSeries(self.seed)
        self.root = os.path.join(self.work, "store")
        shutil.rmtree(self.root, ignore_errors=True)
        self.ds = Datastream(spark, self.root)
        self.sid: dict[str, str] = {}
        for s in self.data.streams:
            with self.spans.span("registry.ensure_stream"):
                self.sid[s.name] = self.ds.ensure_stream({"name": s.name}, tags=dict(s.tags))
        for d in self.data.derived:
            with self.spans.span("registry.ensure_stream"):
                self.sid[d["name"]] = self.ds.ensure_stream(
                    {"name": d["name"]},
                    tags={"kind": "derived"},
                    derive_from=[self.sid[n] for n in d["from"]],
                    derive_op=d["op"],
                )
        self.name_of = {v: k for k, v in self.sid.items()}
        self.batch_paths = []
        lands = os.path.join(self.work, "batches")
        shutil.rmtree(lands, ignore_errors=True)
        os.makedirs(lands)
        for b, batch in enumerate(self.data.batches):
            path = os.path.join(lands, f"batch_{b:03d}.parquet")
            table = pa.table(
                {
                    "stream_id": pa.array([self.sid[n] for n in batch["name"]], pa.string()),
                    "ts": pa.array(batch["ts"] * 1_000_000, pa.timestamp("us", tz="UTC")),
                    "value": pa.array(batch["value"], pa.float64()),
                }
            )
            pq.write_table(table, path)
            self.batch_paths.append(path)
        self.qrng = np.random.default_rng([self.seed, 7])
        self.raw_names = np.array([s.name for s in self.data.streams])
        rates = np.array([s.per_hour for s in self.data.streams])
        self.popularity = rates / rates.sum()

    # -- the timed op --------------------------------------------------------

    def has_op(self, i: int) -> bool:
        return i < len(self.batch_paths)

    def op(self, i: int):
        batch = self.data.batches[i]
        df = self.spark.read.parquet(self.batch_paths[i])
        t0 = time.perf_counter()
        with self.spans.span("ts.ingest", op=i):
            with self.spans.span("datastream.append", op=i):
                self.ds.append_dataframe(df)
            with self.spans.span("datastream.downsample", op=i):
                self.ds.downsample_streams(until=_utc(batch["hi"]))
        self.ingest_s.append(time.perf_counter() - t0)
        self.points += len(batch["ts"])
        checks = []
        t_burst = time.perf_counter()
        self.last_reads = []
        for kind, q in self._queries(i):
            t0 = time.perf_counter()
            with self.spans.span("ts.query", op=i):
                answer = self._run_query(kind, q, i)
            self.query_s.append(time.perf_counter() - t0)
            self.last_reads.append((kind, self.query_s[-1]))
            checks.append(lambda kind=kind, q=q, answer=answer: self._check_query(kind, q, answer, i))
        self.burst_s.append(time.perf_counter() - t_burst)
        return checks

    def describe_last(self) -> str:
        reads = " ".join(f"{k}={t:.2f}" for k, t in self.last_reads)
        return f"ingest {self.ingest_s[-1]:.2f}s, reads {self.burst_s[-1]:.2f}s ({reads})"

    def _queries(self, i: int) -> list[tuple[str, dict]]:
        rng = self.qrng
        until = self.data.batches[i]["hi"]
        # fixed kinds, levels and order, so a seed changes only which
        # streams, tags and windows are read -- not the mix. Rollup reads
        # are the common case (7 of 12, as in a dashboard); three kinds
        # are faster and two slower, so the median falls among the
        # rollup reads (or the raw read, about as fast) and one slow
        # read does not move it onto the aggregate_range or fill latency
        kinds = [
            "find", "rollup:10seconds", "raw", "rollup:minutes", "aggregate", "rollup:10minutes",
            "rollup:hours", "fill", "rollup:6hours", "scan", "rollup:days", "rollup:10seconds",
        ]

        def stream():
            return str(rng.choice(self.raw_names, p=self.popularity))

        def window(length, align):
            # ~70% of windows end inside the most recent simulated day
            first = gen.EPOCH0 + align
            end_lo = max(until - 86400, first) if rng.random() < 0.7 else first
            hi = max(int(rng.integers(end_lo, until + 1)) // align * align, first)
            return max(hi - length, gen.EPOCH0), hi

        out = []
        for kind in kinds:
            if kind.startswith("rollup:"):
                kind, level = kind.split(":")
                secs = dict(gen.LEVELS)[level]
                lo, hi = window(secs * 360, secs)
                out.append((kind, {"stream": stream(), "level": level, "secs": secs, "lo": lo, "hi": hi}))
            elif kind == "raw":
                lo, hi = window(1800, 1)
                out.append((kind, {"stream": stream(), "lo": lo, "hi": hi}))
            elif kind == "fill":
                lo, hi = window(7200, 60)
                out.append((kind, {"stream": stream(), "lo": lo, "hi": hi}))
            elif kind == "aggregate":
                lo, hi = window(6 * 3600 + 1234, 1)  # unaligned: routed edges read raw
                out.append((kind, {"tags": {"host": str(rng.choice(gen.HOSTS))}, "lo": lo, "hi": hi}))
            elif kind == "scan":
                lo, hi = window(12 * 3600, 3600)
                out.append((kind, {"tags": {"metric": str(rng.choice(gen.METRICS))}, "lo": lo, "hi": hi}))
            else:
                tags = {"host": str(rng.choice(gen.HOSTS))}
                if rng.random() < 0.5:
                    tags["metric"] = str(rng.choice(gen.METRICS))
                out.append((kind, {"tags": tags}))
        return out

    def _run_query(self, kind: str, q: dict, i: int):
        ds = self.ds
        if kind == "rollup":
            with self.spans.span("datastream.get_data", op=i):
                return list(
                    ds.get_data(
                        self.sid[q["stream"]], q["level"], start=_utc(q["lo"]),
                        end_exclusive=_utc(q["hi"]),
                        value_downsamplers=["count", "sum", "min", "max"],
                        time_downsamplers=["first"],
                    )
                )
        if kind == "raw":
            with self.spans.span("datastream.get_data", op=i):
                return list(
                    ds.get_data(
                        self.sid[q["stream"]], "seconds", start=_utc(q["lo"]),
                        end_exclusive=_utc(q["hi"]),
                    )
                )
        if kind == "fill":
            with self.spans.span("datastream.get_data", op=i):
                return list(
                    ds.get_data(
                        self.sid[q["stream"]], "minutes", start=_utc(q["lo"]),
                        end_exclusive=_utc(q["hi"]), value_downsamplers=["mean"],
                        time_downsamplers=["first"], fill="previous",
                    )
                )
        if kind == "aggregate":
            with self.spans.span("datastream.aggregate_range", op=i):
                return ds.aggregate_range(q["tags"], start=_utc(q["lo"]), end=_utc(q["hi"])).select(
                    "stream_id", "v_count", "v_sum", "v_min", "v_max"
                ).collect()
        if kind == "scan":
            with self.spans.span("datastream.scan", op=i):
                return ds.scan(
                    q["tags"], "hours", start=_utc(q["lo"]), end_exclusive=_utc(q["hi"])
                ).select("stream_id", "bucket_epoch", "v_count", "v_sum", "v_min", "v_max").collect()
        with self.spans.span("registry.find_streams", op=i):
            return [s["stream_id"] for s in ds.find_streams(q["tags"])]

    # -- checks (outside the timed region) ------------------------------------

    def _points(self, i: int, names: set[str], lo: int, hi: int):
        p = self.data.points(i + 1)
        m = (p["ts"] >= lo) & (p["ts"] < hi) & np.isin(p["name"], list(names))
        return p["name"][m], p["ts"][m], p["value"][m]

    def _check_query(self, kind: str, q: dict, answer, i: int) -> list[str]:
        if kind == "rollup":
            names, ts, vals = self._points(i, {q["stream"]}, q["lo"], q["hi"])
            want = gen.bucket_stats(names, ts, vals, q["secs"])
            got = {}
            for r in answer:
                b = _epoch(r["t"]["first"]) // q["secs"] * q["secs"]
                v = r["v"]
                got[(q["stream"], b)] = (v["count"], v["sum"], v["min"], v["max"])
            return check.check_buckets(got, want)
        if kind == "raw":
            _, ts, vals = self._points(i, {q["stream"]}, q["lo"], q["hi"])
            got = [(_epoch(r["t"]), r["v"]) for r in answer]
            return check.check_points(got, [(int(t), float(v)) for t, v in zip(ts, vals)])
        if kind == "fill":
            names, ts, vals = self._points(i, {q["stream"]}, q["lo"], q["hi"])
            obs = {b: s / c for (_, b), (c, s, _, _) in gen.bucket_stats(names, ts, vals, 60).items()}
            got = []
            for r in answer:
                if r["filled"]:
                    b = None
                else:
                    b = _epoch(r["t"]["first"]) // 60 * 60
                got.append([b, bool(r["filled"]), r["v"]["mean"]])
            # generated rows carry no timestamp: place every row on the
            # grid by position (rows come back in bucket order)
            grid = list(range(q["lo"], q["hi"], 60))
            if len(got) == len(grid):
                for row, b in zip(got, grid):
                    if row[0] is not None and row[0] != b:
                        return [f"row at {b} holds bucket {row[0]}"]
                    row[0] = b
            return check.check_fill([tuple(r) for r in got], obs, q["lo"], q["hi"], 60)
        if kind == "aggregate":
            wanted = self._matching(q["tags"])
            p = self.data.points(i + 1)
            want = check.range_truth(p["name"], p["ts"], p["value"], wanted, q["lo"], q["hi"])
            got = {
                (self.name_of[r["stream_id"]], 0): (r["v_count"], r["v_sum"], r["v_min"], r["v_max"])
                for r in answer
                if r["v_count"]
            }
            return check.check_buckets(got, {(k, 0): v for k, v in want.items()})
        if kind == "scan":
            names, ts, vals = self._points(i, self._matching(q["tags"]), q["lo"], q["hi"])
            want = gen.bucket_stats(names, ts, vals, 3600)
            got = {
                (self.name_of[r["stream_id"]], r["bucket_epoch"]): (r["v_count"], r["v_sum"], r["v_min"], r["v_max"])
                for r in answer
            }
            return check.check_buckets(got, want)
        want = {self.sid[n] for n in self._matching(q["tags"])}
        return check.check_set(set(answer), want, f"find_streams {q['tags']}")

    def _matching(self, tags: dict) -> set[str]:
        return {
            s.name for s in self.data.streams if all(s.tags.get(k) == v for k, v in tags.items())
        }

    def finish(self, n_ops: int) -> list[str]:
        """The whole store after the last ingested batch, against numpy:
        every complete bucket of every stream, raw and derived, at every
        ladder level, and every raw point of the derived streams."""
        if n_ops == 0:
            return []
        from pyspark.sql import functions as F

        cols = ["stream_id", "bucket_epoch", "v_count", "v_sum", "v_min", "v_max"]
        levels = None
        for level, _ in gen.LEVELS:
            part = self.ds.scan(None, level).select(*cols, F.lit(level).alias("level"))
            levels = part if levels is None else levels.unionByName(part)
        derived = {d["name"] for d in self.data.derived}
        got = {(level, is_derived): {} for level, _ in gen.LEVELS for is_derived in (False, True)}
        for r in levels.collect():
            name = self.name_of[r["stream_id"]]
            got[(r["level"], name in derived)][(name, r["bucket_epoch"])] = (
                r["v_count"], r["v_sum"], r["v_min"], r["v_max"]
            )
        errs = []
        for level, secs in gen.LEVELS:
            want = self.data.truth_buckets(n_ops, secs)
            errs += [f"{level}: {e}" for e in check.check_buckets(got[(level, False)], want)]
            want = self.data.truth_buckets(n_ops, secs, derived=True)
            errs += [
                f"{level} derived: {e}"
                for e in check.check_buckets(got[(level, True)], want, sum_tol=self.RATE_SUM_TOL)
            ]
        # derived values are computed the same way in numpy and Spark
        # (one exact subtraction, one correctly rounded division), so
        # raw derived points compare exactly
        want = self.data.derived_points(n_ops)
        rows = self.ds.scan({"kind": "derived"}, "seconds").select("stream_id", "ts", "value").collect()
        for name in sorted(derived):
            m = want["name"] == name
            got_pts = sorted((_epoch(r["ts"]), r["value"]) for r in rows if self.name_of[r["stream_id"]] == name)
            want_pts = [(int(t), float(v)) for t, v in zip(want["ts"][m], want["value"][m])]
            errs += [f"{name} points: {e}" for e in check.check_points(got_pts, want_pts)]
        return errs

    def latencies(self) -> list[float]:
        return self.query_s

    def metrics(self) -> dict[str, float]:
        return {
            "items_per_s": self.points / sum(self.ingest_s),
            # median read: the seeded windows move the two heavy reads
            # (aggregate_range, fill) by up to 2x, which a burst total
            # inherits and the median of the twelve reads does not
            "op_p50_ms": float(np.median(self.query_s)) * 1e3,
        }


class Corpus:
    """LLM corpus curation: ``pipeline.curate_corpus(docs, eval_set)``
    then ``operators.similarity.semantic_dedup`` on the survivors'
    embeddings. Each op is one full pass over the landed corpus."""

    name = "corpus"
    SEM_THRESHOLD = 0.9

    def __init__(self, seed: int, work: str, spans):
        self.seed, self.work, self.spans = seed, work, spans
        self.pass_s: list[float] = []
        self.docs_done = 0
        self.stats: dict[str, float] = {}
        self.report: dict[str, int] = {}
        self.expected = None

    def setup(self, spark) -> None:
        self.spark = spark
        self.data = gen.Corpus(self.seed)
        lands = os.path.join(self.work, "corpus")
        shutil.rmtree(lands, ignore_errors=True)
        os.makedirs(lands)
        c = self.data
        self.paths = {
            "docs": os.path.join(lands, "docs.parquet"),
            "eval": os.path.join(lands, "eval.parquet"),
            "emb": os.path.join(lands, "embeddings.parquet"),
        }
        pq.write_table(pa.table({"doc_id": c.doc_ids, "text": c.texts}), self.paths["docs"])
        pq.write_table(
            pa.table({"doc_id": np.arange(len(c.eval_texts), dtype=np.int64), "text": c.eval_texts}),
            self.paths["eval"],
        )
        pq.write_table(
            pa.table({"doc_id": c.doc_ids, "embedding": list(c.embeddings)}), self.paths["emb"]
        )

    def has_op(self, i: int) -> bool:
        return True

    def op(self, i: int):
        from datastream_spark.operators.similarity import semantic_dedup
        from datastream_spark.pipeline import curate_corpus

        read = self.spark.read.parquet
        docs, eval_set, emb = read(self.paths["docs"]), read(self.paths["eval"]), read(self.paths["emb"])
        t0 = time.perf_counter()
        with self.spans.span("corpus.pass", op=i):
            with self.spans.span("pipeline.curate_corpus", op=i):
                clean, report = curate_corpus(docs, eval_set)
                survivors = {r[0] for r in clean.select("doc_id").collect()}
            with self.spans.span("operators.similarity.semantic_dedup", op=i):
                kept = emb.join(clean.select("doc_id"), "doc_id")
                sem = [
                    (r["doc_id"], r["keep"])
                    for r in semantic_dedup(kept, threshold=self.SEM_THRESHOLD, id_col="doc_id").collect()
                ]
        self.pass_s.append(time.perf_counter() - t0)
        self.docs_done += self.data.n_docs

        def verify():
            if self.expected is None:  # the oracle runs outside setup and the timed op
                self.expected = gen.expected_funnel(self.data)
            errs, stats = check.funnel_outcome(self.data, self.expected, report, survivors, sem)
            self.stats, self.report = stats, dict(report)
            return errs

        return [verify]

    def describe_last(self) -> str:
        return f"pass {self.pass_s[-1]:.2f}s"

    def finish(self, n_ops: int) -> list[str]:
        return []

    def latencies(self) -> list[float]:
        return self.pass_s

    def metrics(self) -> dict[str, float]:
        return {
            "items_per_s": self.docs_done / sum(self.pass_s),
            "op_p50_ms": float(np.median(self.pass_s)) * 1e3,
        }


WORKLOADS = {w.name: w for w in (Timeseries, Corpus)}
