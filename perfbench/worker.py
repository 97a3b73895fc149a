"""One benchmark run inside a fresh process pinned to the workload's CPUs.

Started by ``run.py``, which puts the checkout on ``PYTHONPATH``;
not meant to be run by hand. It builds a
SparkSession at ``local[N]``, runs the untimed warm-up pass, then times
``run_dedup`` (batch) or ``run_incremental`` (ingest) calls until
``--seconds`` of timed work have run, checks the committed outputs and
writes one JSON result file. With ``--trace 1`` it then makes one more,
traced call and adds the per-layer metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import corpus as corpus_mod
import tracing
from epstein_pipeline_spark.config import DEFAULT_CONFIG as CFG
from epstein_pipeline_spark.plans.checkpoint import StageStore
from epstein_pipeline_spark.plans.incremental import run_incremental
from epstein_pipeline_spark.plans.pipeline import run_dedup
from epstein_pipeline_spark.session import get_spark

WARM_FRACTION = 0.03
PROBE_DOCS = 1024


def _table(store: StageStore, stage: str, columns: list[str]):
    """The stage's committed rows (every snapshot of an append chain)."""
    m = store.latest(stage)
    return tracing.read_snapshots(m.get("paths", [m["path"]]), columns)


def read_labels(store: StageStore) -> dict[str, str]:
    t = _table(store, "labels", ["url", "cluster_id"])
    return dict(zip(t.column("url").to_pylist(), t.column("cluster_id").to_pylist()))


def check_outputs(store: StageStore, cdir: Path, meta: dict) -> tuple[dict, dict]:
    """Recall and false merges against planted truth, and the extract
    digest against the spec twins. Returns (checks, labels)."""
    import pandas as pd

    labels = read_labels(store)
    tp = pd.read_parquet(cdir / "truth_pairs.parquet")
    hits = sum(labels.get(a) is not None and labels.get(a) == labels.get(b)
               for a, b in zip(tp["url1"], tp["url2"]))
    tc = pd.read_parquet(cdir / "truth_clusters.parquet")
    truth_of = dict(zip(tc["url"], tc["cluster_id"]))
    members: dict[str, set] = {}
    for url, cid in labels.items():
        members.setdefault(cid, set()).add(truth_of.get(url, f"filler:{url}"))
    sizes: dict[str, int] = {}
    for cid in labels.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    false_merges = sum(1 for cid, t in members.items() if sizes[cid] > 1 and len(t) > 1)
    ext = _table(store, "extract", ["url", "extracted_text"])
    digest = corpus_mod.rows_digest(
        zip(ext.column("url").to_pylist(), ext.column("extracted_text").to_pylist())
    )
    checks = {
        "pair_recall": hits / len(tp) if len(tp) else 1.0,
        "false_merges": false_merges,
        "labelled_docs": len(labels),
        "extract_digest_ok": digest == meta["extract_digest"],
    }
    return checks, labels


def drain(spark) -> None:
    """Let deferred cleanup of the previous call finish before timing
    the next, so a JVM full GC does not land inside the timed call."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("batch", "ingest"), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cdir, work = Path(args.corpus), Path(args.work)
    meta = json.loads((cdir / "meta.json").read_text())

    t0 = time.time()
    spark = get_spark(f"perfbench_{args.workload}", cores=args.cores)
    session_s = time.time() - t0
    try:
        base = spark.read.parquet(str(cdir / "base"))
        delta = spark.read.parquet(str(cdir / "delta"))
        pages = spark.read.parquet(str(cdir / "base"), str(cdir / "delta"))

        # untimed warm-up pass: JIT, codegen, one Python worker per
        # core, kernel load. Batch runs run_dedup on a ~3% sample that
        # keeps the input splits. Ingest first builds the base store
        # with run_dedup (not set-up: setup_s leaves it out), then folds
        # the delta into a copy of it once, because the first ingest
        # call in a JVM runs ~30% slower than the next and spreads
        # about twice as wide over seeds (4-vCPU host). A smaller
        # warm-up delta would not be cheaper: the call is dominated by
        # its ~90 Spark jobs, not by the delta's size
        base_build_s = 0.0
        if args.workload == "batch":
            run_dedup(spark, base.sample(WARM_FRACTION, seed=0), StageStore(work / "warm"))
        else:
            t = time.time()
            run_dedup(spark, base, StageStore(work / "base"))
            base_build_s = time.time() - t
            shutil.copytree(work / "base", work / "warm")
            run_incremental(spark, delta, StageStore(work / "warm"))
        shutil.rmtree(work / "warm")
        setup_done_at = time.time()

        if args.workload == "batch":
            def prepare(i):
                return StageStore(work / f"store{i}")

            def call(store):
                return run_dedup(spark, pages, store)
            n_docs = meta["pages"]
            input_bytes = meta["parquet_bytes"]
        else:
            def prepare(i):
                shutil.copytree(work / "base", work / f"store{i}")
                return StageStore(work / f"store{i}")

            def call(store):
                return run_incremental(spark, delta, store)
            n_docs = meta["delta_pages"]
            input_bytes = meta["delta_parquet_bytes"]

        walls, stored = [], []
        store = None
        while not walls or sum(walls) < args.seconds:
            if store is not None:
                shutil.rmtree(store.root)
            store = prepare(len(walls))
            before = corpus_mod.dir_bytes(store.root)
            drain(spark)
            t = time.time()
            res = call(store)
            walls.append(time.time() - t)
            stored.append(corpus_mod.dir_bytes(store.root) - before)
            if not res.stage_seconds.get("clusters"):
                raise RuntimeError("the timed call skipped the clusters stage")

        t = time.time()
        checks, labels = check_outputs(store, cdir, meta)
        check_s = time.time() - t
        checks["partition"] = corpus_mod.partition_digest(labels)

        out = {
            "t0": t0,
            "setup_done_at": setup_done_at,
            "phases": {"session_s": session_s, "base_build_s": base_build_s,
                       "warm_up_s": setup_done_at - t0 - session_s - base_build_s,
                       "check_s": check_s},
            "walls": walls,
            "docs": n_docs,
            "store_bytes": statistics.median(stored),
            "input_bytes": input_bytes,
            "checks": checks,
        }
        if args.trace:
            out["trace"] = traced_call(spark, prepare, call, len(walls), walls, cdir)
            out["trace"]["layer"]["session.start_s"] = session_s
        Path(args.out).write_text(json.dumps(out))
    finally:
        spark.stop()


def traced_call(spark, prepare, call, i, walls, cdir) -> dict:
    """One more call with tracing on; returns spans and per-layer metrics."""
    store = prepare(i)
    before = corpus_mod.dir_bytes(store.root)
    drain(spark)
    tracer = tracing.Tracer(spark)
    tracer.run("call", lambda: call(store))
    traced_wall = tracer.t1 - tracer.t0
    layer = tracer.layer_metrics()
    layer["checkpoint.bytes_mb"] = (corpus_mod.dir_bytes(store.root) - before) / 1e6
    layer["trace.overhead_s"] = traced_wall - statistics.median(walls)
    layer.update(tracing.outcome_metrics(store, CFG, read_labels(store)))

    sample = pq.read_table(cdir / "base", columns=["html"]).slice(0, PROBE_DOCS)
    layer.update(tracing.kernel_probes(sample.column("html").to_pylist(), CFG))
    scored = _table(store, "minhash_scored", ["url1", "url2", "score"]).to_pylist()
    gray = [(r["url1"], r["url2"]) for r in scored if r["score"] < CFG.jaccard_threshold]
    ext = _table(store, "extract", ["url", "text"])
    text = dict(zip(ext.column("url").to_pylist(), ext.column("text").to_pylist()))
    layer["lcs.core_s_per_1k_pairs"] = tracing.lcs_probe(
        [(text[a], text[b]) for a, b in gray], CFG
    )
    return {"wall_s": traced_wall, "layer": layer, "spans": tracer.spans}


if __name__ == "__main__":
    main()
