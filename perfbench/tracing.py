"""Traced-run instrumentation, recorded from outside the program.

``Tracer`` wraps the public ``StageStore.commit`` / ``append`` / ``read``
for the duration of one call. Each outermost commit or append closes a
pipeline stage: the stage's span runs from the end of the previous one
(or the call's start) to the end of its commit, so the spans tile the
call. Every Spark job submitted from the calling thread during a span
carries that span's job tag; after the call the tags are joined with
the application status store (jobs -> stages -> task metrics).
Jobs from other driver threads carry no tag and are reported as
unattributed.

Spans are kept in memory as (name, start, end, parent) and written out
with the per-layer table when the run ends.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

# batch pipeline stage names; ingest commits a subset of them (its
# exact, simhash and lcs pairs are executed inside its `pairs` append)
STAGES = (
    "extract", "pairs_exact", "signatures", "minhash_candidates", "minhash_scored",
    "pairs_simhash", "pairs_lcs", "pairs", "labels", "clusters",
)
STAGE_METRICS = (
    ("wall_s", "s"), ("rows_out", "rows"), ("jobs", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("task_skew", "ratio"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("gc_s", "s"),
)
OTHER_METRICS = (
    ("session.start_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("functions.extract.core_s_per_128k", "s"),
    ("functions.minhash.core_s_per_128k", "s"),
    ("functions.simhash.core_s_per_128k", "s"),
    ("lcs.core_s_per_1k_pairs", "s"),
    ("checkpoint.commits", "count"),
    ("checkpoint.commit_s", "s"),
    ("checkpoint.commit_self_s", "s"),
    ("checkpoint.read_s", "s"),
    ("checkpoint.bytes_mb", "MB"),
    ("spark.jobs", "count"),
    ("spark.idle_s", "s"),
    ("spark.unattributed_task_s", "s"),
    ("lsh.candidates", "count"),
    ("lsh.accept_ratio", "ratio"),
    ("verify.exact_share", "ratio"),
    ("lcs.rescued", "count"),
    ("lcs.rescue_ratio", "ratio"),
    ("simhash.pairs", "count"),
    ("pairs.total", "count"),
    ("cc.multi_clusters", "count"),
    ("trace.overhead_s", "s"),
    ("trace.stage_cover", "ratio"),
)


def per_layer_units() -> dict[str, str]:
    units = {f"stage.{s}.{m}": u for s in STAGES for m, u in STAGE_METRICS}
    units.update(OTHER_METRICS)
    return units


class Tracer:
    """Record stage spans and job tags around one pipeline call."""

    TAG = "perfbench-span-"

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stage_spans: list[dict] = []
        self.commit_spans: list[dict] = []
        self.read_s = 0.0
        self.reads: list[int] = []
        self._depth = 0
        self._tag = None

    def _span(self, name, start, end, parent):
        span = {"name": name, "start": start, "end": end, "parent": parent}
        self.spans.append(span)
        return len(self.spans) - 1

    def _retag(self):
        sc = self.spark.sparkContext
        if self._tag is not None:
            sc.removeJobTag(self._tag)
        self._tag = f"{self.TAG}{len(self.stage_spans)}"
        sc.addJobTag(self._tag)

    def run(self, name: str, fn):
        """Call ``fn()`` with the StageStore wrapped; return its result."""
        from epstein_pipeline_spark.plans.checkpoint import StageStore

        orig = {k: getattr(StageStore, k) for k in ("commit", "append", "read")}
        tracer = self

        def committing(method):
            def wrapper(store, stage, *a, **kw):
                if tracer._depth:
                    return orig[method](store, stage, *a, **kw)
                tracer._depth += 1
                t0 = time.time()
                try:
                    m = orig[method](store, stage, *a, **kw)
                finally:
                    tracer._depth -= 1
                t1 = time.time()
                start = tracer.stage_spans[-1]["end"] if tracer.stage_spans else tracer.t0
                sid = tracer._span(f"stage:{stage}", start, t1, tracer.root)
                tracer._span(f"checkpoint.{method}:{stage}", t0, t1, sid)
                tracer.commit_spans.append({"start": t0, "end": t1})
                tracer.stage_spans.append(
                    {"stage": stage, "start": start, "end": t1,
                     "rows_out": m.get("delta_rows", m.get("rows", 0)),
                     "tag": tracer._tag}
                )
                tracer._retag()
                return m
            return wrapper

        def reading(store, spark, stage, *a, **kw):
            t0 = time.time()
            try:
                return orig["read"](store, spark, stage, *a, **kw)
            finally:
                t1 = time.time()
                tracer.read_s += t1 - t0
                tracer.reads.append(tracer._span(f"checkpoint.read:{stage}", t0, t1, tracer.root))

        self.t0 = time.time()
        self.root = self._span(name, self.t0, None, None)
        StageStore.commit = committing("commit")
        StageStore.append = committing("append")
        StageStore.read = reading
        self._retag()
        try:
            out = fn()
        finally:
            for k, v in orig.items():
                setattr(StageStore, k, v)
            self.spark.sparkContext.removeJobTag(self._tag)
            self.t1 = time.time()
            self.spans[self.root]["end"] = self.t1
        # a read belongs to the stage span it falls in, which only
        # exists once that stage's commit has returned
        stages = [i for i, sp in enumerate(self.spans) if sp["name"].startswith("stage:")]
        for r in self.reads:
            t = self.spans[r]["start"]
            self.spans[r]["parent"] = next(
                (i for i in stages if self.spans[i]["start"] <= t < self.spans[i]["end"]),
                self.root,
            )
        return out

    # -- status-store readout ---------------------------------------------
    def _jobs(self):
        """Spark jobs submitted during the call, with their tags, time
        intervals and stage ids."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t_sub = sub.get().getTime() / 1000.0
            if not (self.t0 - 0.001 <= t_sub <= self.t1 + 0.001):
                continue
            comp = j.completionTime()
            t_end = comp.get().getTime() / 1000.0 if comp.isDefined() else self.t1
            tags = j.jobTags()
            sids = j.stageIds()
            out.append({
                "tags": [tags.apply(k) for k in range(tags.size())],
                "start": t_sub, "end": min(t_end, self.t1),
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        return out

    def _stage_data(self, stage_ids: set[int]) -> dict[int, dict]:
        sc = self.spark.sparkContext
        jstore = sc._jsc.sc().statusStore()
        gw = sc._gateway
        none = gw.new_array(gw.jvm.double, 0)
        lst = jstore.stageList(None, False, False, none, None)
        data: dict[int, dict] = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid not in stage_ids:
                continue
            d = data.setdefault(sid, {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                                      "shuffle_w": 0, "spill": 0, "attempts": []})
            d["tasks"] += s.numCompleteTasks()
            d["run_ms"] += s.executorRunTime()
            d["cpu_ns"] += s.executorCpuTime()
            d["gc_ms"] += s.jvmGcTime()
            d["shuffle_w"] += s.shuffleWriteBytes()
            d["spill"] += s.diskBytesSpilled()
            d["attempts"].append(s.attemptId())
        return data

    def _task_skew(self, sid: int, attempt: int) -> float:
        """max / median task run time of one Spark stage attempt."""
        sc = self.spark.sparkContext
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = sc._jsc.sc().statusStore().taskSummary(sid, attempt, q)
        if opt.isEmpty():
            return 0.0
        run = opt.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def layer_metrics(self) -> dict[str, float]:
        """Per-stage, checkpoint and Spark-driver metrics of the call."""
        jobs = self._jobs()
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        sdata = self._stage_data(stage_ids)
        wall = self.t1 - self.t0
        busy = _union([(j["start"], j["end"]) for j in jobs])
        out: dict[str, float] = {}
        for s in STAGES:
            for m, _u in STAGE_METRICS:
                out[f"stage.{s}.{m}"] = 0.0
        by_tag: dict[str, list[dict]] = {}
        unattributed_ms = 0
        for j in jobs:
            tags = [t for t in j["tags"] if t.startswith(self.TAG)]
            if tags:
                by_tag.setdefault(tags[0], []).append(j)
            else:
                unattributed_ms += sum(sdata.get(s, {}).get("run_ms", 0) for s in j["stages"])
        for span in self.stage_spans:
            p = f"stage.{span['stage']}."
            sj = by_tag.get(span["tag"], [])
            sids = {sid for j in sj for sid in j["stages"] if sid in sdata}
            agg = [sdata[sid] for sid in sids]
            out[p + "wall_s"] += span["end"] - span["start"]
            out[p + "rows_out"] += span["rows_out"]
            out[p + "jobs"] += len(sj)
            out[p + "tasks"] += sum(d["tasks"] for d in agg)
            out[p + "task_cpu_s"] += sum(d["cpu_ns"] for d in agg) / 1e9
            out[p + "shuffle_write_mb"] += sum(d["shuffle_w"] for d in agg) / 1e6
            out[p + "spill_mb"] += sum(d["spill"] for d in agg) / 1e6
            out[p + "gc_s"] += sum(d["gc_ms"] for d in agg) / 1e3
            # skew of the stage group's heaviest Spark stage
            heavy = max(sids, key=lambda sid: sdata[sid]["run_ms"], default=None)
            if heavy is not None and sdata[heavy]["tasks"] > 0:
                out[p + "task_skew"] = max(
                    out[p + "task_skew"],
                    self._task_skew(heavy, sdata[heavy]["attempts"][-1]),
                )
        commit_s = sum(c["end"] - c["start"] for c in self.commit_spans)
        commit_busy = sum(_overlap(busy, c["start"], c["end"]) for c in self.commit_spans)
        covered = sum(s["end"] - s["start"] for s in self.stage_spans)
        out.update({
            "checkpoint.commits": float(len(self.commit_spans)),
            "checkpoint.commit_s": commit_s,
            "checkpoint.commit_self_s": commit_s - commit_busy,
            "checkpoint.read_s": self.read_s,
            "spark.jobs": float(len(jobs)),
            "spark.idle_s": wall - sum(e - s for s, e in busy),
            "spark.unattributed_task_s": unattributed_ms / 1e3,
            "trace.stage_cover": covered / wall if wall > 0 else 0.0,
        })
        return out


def _union(intervals):
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _overlap(union, start, end) -> float:
    return sum(max(0.0, min(e, end) - max(s, start)) for s, e in union)


# -- operator outcomes, read from the committed store --------------------
def read_snapshots(dirs: list[str], columns: list[str]):
    """Parquet rows of the given snapshot directories, via pyarrow."""
    import pyarrow as pa

    files = [str(f) for d in dirs for f in sorted(Path(d).glob("*.parquet"))]
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def _last_snapshot(store, stage, columns):
    return read_snapshots([store.latest(stage)["path"]], columns)


def outcome_metrics(store, cfg, labels: dict[str, str]) -> dict[str, float]:
    """Counts the call committed, read from its last snapshots (the
    delta for an ingest) without Spark, plus the multi-doc clusters of
    the committed ``labels``."""
    import pyarrow.compute as pc

    cand = _last_snapshot(store, "minhash_candidates", ["score"])
    scored = _last_snapshot(store, "minhash_scored", ["score"])
    pairs = _last_snapshot(store, "pairs", ["method"])
    n_cand = cand.num_rows
    near = pc.sum(pc.less(cand["score"], 0.90)).as_py() or 0
    accepted = pc.sum(pc.greater_equal(scored["score"], cfg.jaccard_threshold)).as_py() or 0
    gray = scored.num_rows - accepted
    methods = pc.value_counts(pairs["method"]).to_pylist()
    by_method = {d["values"]: d["counts"] for d in methods}
    return {
        "lsh.candidates": float(n_cand),
        "lsh.accept_ratio": accepted / n_cand if n_cand else 0.0,
        "verify.exact_share": near / n_cand if n_cand else 0.0,
        "lcs.rescued": float(by_method.get("lcs", 0)),
        "lcs.rescue_ratio": by_method.get("lcs", 0) / gray if gray else 0.0,
        "simhash.pairs": float(by_method.get("simhash", 0)),
        "pairs.total": float(pairs.num_rows),
        "cc.multi_clusters": float(
            sum(1 for n in Counter(labels.values()).values() if n > 1)
        ),
    }


# -- kernel probes --------------------------------------------------------
def _median_time(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_probes(htmls: list[bytes], cfg) -> dict[str, float]:
    """Single-thread, in-process seconds per 128k docs of the extract
    chain and the two signature kernels, on a fixed doc sample."""
    import pandas as pd

    from epstein_pipeline_spark.functions.minhash import make_minhash_udf
    from epstein_pipeline_spark.functions.simhash import make_simhash_udf
    from epstein_pipeline_spark.functions.text import py_extract_normalize_batch

    _ext, norm, _h = py_extract_normalize_batch(htmls)
    texts = pd.Series(norm)
    mh = make_minhash_udf(cfg.shingle_k, cfg.num_perm, cfg.minhash_seed).func
    sh = make_simhash_udf().func
    per = 128_000 / len(htmls)
    return {
        "functions.extract.core_s_per_128k":
            _median_time(lambda: py_extract_normalize_batch(htmls)) * per,
        "functions.minhash.core_s_per_128k": _median_time(lambda: mh(texts)) * per,
        "functions.simhash.core_s_per_128k": _median_time(lambda: sh(texts)) * per,
    }


def lcs_probe(pairs: list[tuple[str, str]], cfg, n: int = 200) -> float:
    """Seconds per 1k ``py_lcs_length`` calls on gray-zone pairs,
    truncated as ``lcs_verify`` truncates them."""
    from epstein_pipeline_spark.operators.lcs import py_lcs_length

    if not pairs:
        return 0.0
    k = cfg.lcs_max_chars
    sample = [(a[:k], b[:k]) for a, b in (pairs * (n // len(pairs) + 1))[:n]]

    def run():
        for a, b in sample:
            py_lcs_length(a, b)

    return _median_time(run, reps=3) / n * 1000
