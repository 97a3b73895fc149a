"""Dedup-engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload batch_4c --seed 1 --seconds 10 --trace 0

Workloads share one seeded corpus (``corpus.py``: 6,000 pages, 30%
planted duplicates, a 200-doc mega cluster, a Zipf hot host):

    batch_4c   ``run_dedup`` of the whole corpus at local[4]
    ingest_4c  ``run_incremental`` of a 1/64 url-hash slice (93 pages)
               into a store built from the rest, at local[4]
    batch_1c   the batch call at local[1]; runnable by hand, but not in
               BENCHMARK.json: one run takes ~2 minutes on a 4-vCPU host.
               Once both batch levels ran a seed, batch runs of it print
               scaling_efficiency = (docs/s at 4 cores / at 1 core) / 4

Each run synthesizes the corpus once per seed (cached under
``.perfbench/``), compiles the native kernels once per checkout, then
starts one fresh worker process (``worker.py``) pinned with
``sched_setaffinity`` to as many CPUs as its ``local[N]``. The worker
sets up Spark, runs a warm-up pass, times calls until ``--seconds`` of
timed work have run, and checks the committed outputs:

    pair_recall >= 0.99 and zero false merges against planted truth;
    the committed extract's (url, extracted_text) digest equals the
    digest of the ``py_extract_text`` spec twin;
    the cluster partition equals the one the other workload committed
    for the same corpus (checked by whichever of the two runs it later).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes one
more, traced call and prints the per-layer metrics instead, writing the
spans to ``.perfbench/traces/``. The last line of stdout is one JSON
object; a failed check prints it with ``"correct": false`` and exits 1.
Every store, Spark local dir and temp file of a run lives in
``.perfbench/run-<pid>/`` and is removed on exit, failure included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import corpus
import tracing

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
WORKLOADS = {"batch_4c": ("batch", 4), "ingest_4c": ("ingest", 4), "batch_1c": ("batch", 1)}
E2E_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "store_bytes_per_input_byte": "ratio",
    "pair_recall": "ratio",
}
MIN_RECALL = 0.99
RUN_LIMIT_S = 170.0  # a run must end within 180 s, corpus synthesis included
# the session factory's default heap is 16g; 3g holds an 8k-page run
# and bounds the process tree's footprint on a shared host
DRIVER_MEMORY = "3g"


class RunFailed(Exception):
    pass


def _on_term(signum, _frame):
    raise SystemExit(128 + signum)


def build_kernels() -> Path | None:
    """Compile the native kernels once per checkout; return their
    cache directory, or None when no compiler is available (the
    program then runs its numpy paths)."""
    build = STATE / "build"
    build.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(build)
    try:
        from epstein_pipeline_spark.functions import _native

        if _native.get_lib() is None:
            return None
    finally:
        tempfile.tempdir = None
    return next(build.glob("eps-native-*"), None)


def tree_rss(pgid: int) -> int:
    """Resident bytes of every process in the process group."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            if int(stat.rsplit(")", 1)[1].split()[2]) != pgid:
                continue
            with open(f"/proc/{d}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def run_worker(kind: str, cores: int, cdir: Path, work: Path, kernels: Path | None,
               args, deadline: float) -> tuple[dict, int, float]:
    """Run one worker; return (its result, peak tree RSS, spawn time)."""
    tmp, local = work / "tmp", work / "local"
    local.mkdir(parents=True)
    tmp.mkdir()
    if kernels is not None:
        shutil.copytree(kernels, tmp / kernels.name)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    out_file = work / "result.json"
    cmd = [
        sys.executable, str(Path(__file__).with_name("worker.py")),
        "--workload", kind, "--cores", str(cores), "--corpus", str(cdir),
        "--work", str(work), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(out_file),
    ]
    with open(work / "worker.log", "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        peak = 0
        try:
            while proc.poll() is None:
                peak = max(peak, tree_rss(proc.pid))
                if time.time() > deadline:
                    raise RunFailed(f"worker still running after {RUN_LIMIT_S:.0f} s")
                time.sleep(0.2)
        finally:
            stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not out_file.exists():
        tail = (work / "worker.log").read_text(errors="replace")[-3000:]
        raise RunFailed(f"worker exited with {proc.returncode}:\n{tail}")
    return json.loads(out_file.read_text()), peak, t_spawn


def partition_check(kind: str, cdir: Path, digest: str) -> bool | None:
    """Compare this run's cluster partition with those earlier runs of
    the corpus committed, batch and ingest alike, and record it.
    Returns None while no run of the other workload has seen the
    corpus: the later of the two makes the check."""
    pdir = STATE / "partitions"
    pdir.mkdir(parents=True, exist_ok=True)
    seen = {p.suffix[1:]: p.read_text() for p in pdir.glob(f"{cdir.name}.*")}
    mine = pdir / f"{cdir.name}.{kind}"
    if kind not in seen:
        tmp = mine.with_name(f".{mine.name}.{os.getpid()}")
        tmp.write_text(digest)
        tmp.replace(mine)
    if any(d != digest for d in seen.values()):
        return False
    return True if set(seen) - {kind} else None


def scaling_efficiency(workload: str, cdir: Path, docs_per_s: float) -> float | None:
    """Record this batch run's throughput; once both batch levels have
    run the corpus, return (docs/s at 4 cores / docs/s at 1 core) / 4."""
    rdir = STATE / "throughput"
    rdir.mkdir(parents=True, exist_ok=True)
    (rdir / f"{cdir.name}.{workload}").write_text(repr(docs_per_s))
    hi, lo = (rdir / f"{cdir.name}.batch_4c"), (rdir / f"{cdir.name}.batch_1c")
    if not (hi.exists() and lo.exists()):
        return None
    return float(hi.read_text()) / float(lo.read_text()) / 4


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not (ROOT / "epstein_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no epstein_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    kind, cores = WORKLOADS[args.workload]
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < cores:
        print(f"perfbench: {args.workload} needs {cores} CPUs, {len(cpus)} allowed",
              file=sys.stderr)
        return 2
    os.sched_setaffinity(0, cpus[:cores])  # the worker tree inherits it

    signal.signal(signal.SIGTERM, _on_term)
    work = STATE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        cdir, meta = corpus.ensure(STATE, args.seed)
        kernels = build_kernels()
        prep_s = time.time() - started
        res, peak, t_spawn = run_worker(kind, cores, cdir, work, kernels, args,
                                        started + RUN_LIMIT_S)
    except RunFailed as e:
        print(f"perfbench: {args.workload} seed {args.seed} failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    walls = res["walls"]
    q1, wall, q3 = quartiles(walls)
    checks = res["checks"]
    e2e = {
        "wall_s": wall,
        "docs_per_s": res["docs"] / wall,
        "setup_s": res["setup_done_at"] - t_spawn - res["phases"]["base_build_s"],
        "store_bytes_per_input_byte": res["store_bytes"] / res["input_bytes"],
        "pair_recall": checks["pair_recall"],
    }
    verdicts = {
        f"pair_recall >= {MIN_RECALL}": checks["pair_recall"] >= MIN_RECALL,
        "false_merges == 0": checks["false_merges"] == 0,
        "extract digest == spec twins": checks["extract_digest_ok"],
        "partition == the other workload's": partition_check(kind, cdir, checks["partition"]),
        "every doc labelled": checks["labelled_docs"] == meta["pages"],
    }
    correct = all(ok is not False for ok in verdicts.values())
    attempted = len(walls) + (1 if args.trace else 0)
    failed = 0 if correct else 1

    print(f"perfbench {args.workload} seed {args.seed}: {meta['pages']} pages "
          f"(delta {meta['delta_pages']}), {meta['truth_pairs']} truth pairs, "
          f"{meta['parquet_bytes']} parquet bytes, local[{cores}] on CPUs {cpus[:cores]}")
    for name, value in e2e.items():
        line = f"  {name:28s} {value:14.4f} {E2E_UNITS[name]}"
        if name in ("wall_s", "docs_per_s"):
            k = (lambda w: w) if name == "wall_s" else (lambda w: res["docs"] / w)
            lo, hi = sorted((k(q1), k(q3)))
            line += f"   median of n={len(walls)}, quartiles {lo:.4f} .. {hi:.4f}"
        print(line)
    print(f"  {'timed calls (s)':28s} " + " ".join(f"{w:.3f}" for w in walls))
    phases = dict(prep_s=prep_s, spawn_s=res["t0"] - t_spawn, **res["phases"],
                  run_s=time.time() - started)
    print("  phases (s): " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print(f"  {'false_merges':28s} {checks['false_merges']:14d} count")
    print(f"  {'failed_frac':28s} {failed / attempted:14.4f} ratio")
    if kind == "batch":
        eff = scaling_efficiency(args.workload, cdir, e2e["docs_per_s"])
        print(f"  {'scaling_efficiency':28s} "
              + (f"{eff:14.4f} ratio (not gated)" if eff is not None
                 else f"{'n/a':>14s} (needs batch_4c and batch_1c runs of this corpus)"))
    shown = {True: "ok", False: "FAILED", None: "pending, no run of the other workload yet"}
    for name, ok in verdicts.items():
        print(f"  check {name}: {shown[ok]}")

    if args.trace:
        layer = dict(res["trace"]["layer"], **{"process.peak_rss_mb": peak / 1e6})
        units = tracing.per_layer_units()
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units.items()}
        tdir = STATE / "traces"
        tdir.mkdir(parents=True, exist_ok=True)
        tfile = tdir / f"{args.workload}-s{args.seed}.json"
        tfile.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "untraced_wall_s": walls, "traced_wall_s": res["trace"]["wall_s"],
            "per_layer": metrics, "spans": res["trace"]["spans"],
        }, indent=1))
        for k in sorted(units):
            print(f"  {k:44s} {layer[k]:14.4f} {units[k]}")
        print(f"  spans and per-layer table written to {tfile.relative_to(ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
