"""Seeded benchmark corpus, synthesized once per seed and cached as parquet.

One corpus serves every workload of a seed: ``synth.generate_corpus``
with 30% planted duplicates in five classes, a 200-doc mega cluster and
the Zipf hot host. Pages are shuffled with the seed and split by url
hash into ``base/`` (eight files) and ``delta/`` (the 1/64 of urls
with the lowest crc32, ~1.6%). Batch workloads read both directories;
the ingest workload builds its store from ``base/`` and folds in
``delta/``.

Beside the parquet the cache keeps the planted truth and ``meta.json``:
corpus stats, parquet bytes, and the order-independent digest of
``(url, extracted_text)`` computed from the ``py_extract_text`` spec
twin, which every run compares against the committed extract.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import time
import zlib
from pathlib import Path

N_PAGES = 6000
MEGA_CLUSTER = 200
DELTA_SHARE = 64
BASE_FILES = 8
KEEP_CORPORA = 12

SCHEMA_FIELDS = ("url", "warc_ts", "html", "text", "lang")


def rows_digest(pairs) -> str:
    """Order-independent sha256 over (key, value) string pairs."""
    rows = sorted(
        hashlib.sha256(k.encode("utf-8") + b"\0" + v.encode("utf-8")).digest()
        for k, v in pairs
    )
    return hashlib.sha256(b"".join(rows)).hexdigest()


def partition_digest(labels: dict[str, str]) -> str:
    """Digest of the url partition a labels table induces; the label
    values themselves do not enter it."""
    groups: dict[str, list[str]] = {}
    for url, cid in labels.items():
        groups.setdefault(cid, []).append(url)
    canon = sorted("\n".join(sorted(urls)) for urls in groups.values())
    return hashlib.sha256("\n\n".join(canon).encode("utf-8")).hexdigest()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _write(corpus, seed: int, out: Path) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from epstein_pipeline_spark.functions.text import py_extract_text

    pages = corpus.pages.iloc[np.random.RandomState(seed).permutation(len(corpus.pages))]
    table = pa.Table.from_pandas(pages[list(SCHEMA_FIELDS)], preserve_index=False)
    # Spark reads parquet timestamps as microseconds; pandas writes nanos
    table = table.set_column(
        1, "warc_ts", table.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
    )
    # the delta is the N/64 urls of lowest crc32: a url-hash slice of
    # fixed size, so every seed folds in the same number of pages
    h = [(zlib.crc32(u.encode("utf-8")), u) for u in pages["url"]]
    cut = sorted(h)[N_PAGES // DELTA_SHARE - 1]
    is_delta = np.array([x <= cut for x in h])
    base, delta = table.filter(pa.array(~is_delta)), table.filter(pa.array(is_delta))
    (out / "base").mkdir(parents=True)
    (out / "delta").mkdir()
    step = -(-base.num_rows // BASE_FILES)
    for i in range(BASE_FILES):
        pq.write_table(base.slice(i * step, step), out / "base" / f"part-{i:02d}.parquet")
    pq.write_table(delta, out / "delta" / "part-00.parquet")
    corpus.truth_pairs.to_parquet(out / "truth_pairs.parquet", index=False)
    corpus.truth_clusters.to_parquet(out / "truth_clusters.parquet", index=False)

    # spec-twin digest of the extract, computed once per corpus
    digest = rows_digest(
        (u, py_extract_text(h)) for u, h in zip(pages["url"], pages["html"])
    )
    return {
        "seed": seed,
        "pages": int(table.num_rows),
        "base_pages": int(base.num_rows),
        "delta_pages": int(delta.num_rows),
        "truth_pairs": int(len(corpus.truth_pairs)),
        "truth_clusters": int(corpus.stats["n_truth_clusters"]),
        "parquet_bytes": dir_bytes(out / "base") + dir_bytes(out / "delta"),
        "delta_parquet_bytes": dir_bytes(out / "delta"),
        "extract_digest": digest,
    }


def key(seed: int) -> str:
    return f"n{N_PAGES}_m{MEGA_CLUSTER}_s{seed}"


def ensure(state: Path, seed: int) -> tuple[Path, dict]:
    """Return (corpus dir, meta) for ``seed``, synthesizing it first if
    it is not cached. Keeps the ``KEEP_CORPORA`` most recently used."""
    root = state / "corpus"
    root.mkdir(parents=True, exist_ok=True)
    out = root / key(seed)
    with open(root / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / "meta.json").exists():
            from epstein_pipeline_spark.synth import generate_corpus

            t0 = time.time()
            tmp = root / f".build-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                corpus = generate_corpus(
                    n_pages=N_PAGES, seed=seed, mega_cluster_size=MEGA_CLUSTER
                )
                meta = _write(corpus, seed, tmp)
                meta["synth_s"] = round(time.time() - t0, 3)
                (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
                shutil.rmtree(out, ignore_errors=True)
                os.replace(tmp, out)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        os.utime(out / "meta.json")
        cached = sorted(
            (p for p in root.iterdir() if (p / "meta.json").exists()),
            key=lambda p: (p / "meta.json").stat().st_mtime,
            reverse=True,
        )
        for old in cached[KEEP_CORPORA:]:
            shutil.rmtree(old, ignore_errors=True)
    return out, json.loads((out / "meta.json").read_text())
