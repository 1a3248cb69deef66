"""The benchmark's load generator: seeded inputs, cached on disk.

Every input is a pure function of (seed, shape) through
``crawlfe.synth``; the program under test only ever sees the files
written here. Generation is the load generator's cost, not the
system's, so it runs before the session starts and is cached under
``<cache>/<key>`` where the key covers the seed, the shape's
parameters and the source of the generator modules (a changed
generator never reuses a stale fixture).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np
import pandas as pd

SHAPES = {
    "backfill": {"n_urls": 3000, "url_lo": 0, "attr_frac": 0.0, "files": 16},
    # attribute-dense html over a url range disjoint from backfill's
    "pit_query": {
        "n_urls": 1500, "url_lo": 1_000_000, "attr_frac": 0.5, "files": 8,
        # share of build rows duplicated as exact (url, warc_ts) copies
        "dup_rate": 0.01,
        # one query per entry and pass (≈10^3 .. 10^5 probes). The
        # largest goes first, so the median query is never the pass's
        # first; the small sets repeat, so the median has five samples
        "probe_sizes": [100_000, 1000, 10_000, 1000, 10_000],
    },
}

_GEN_SOURCES = ("synth.py", "hashing.py", "extract.py")


def gen_pages(seed: int, shape: dict, tmp: str, procs: int = 4) -> pd.DataFrame:
    """Pages for the shape's url range, generated by ``procs`` child
    processes over url slices (values do not depend on the slicing)."""
    lo, n = shape["url_lo"], shape["n_urls"]
    bounds = np.linspace(lo, lo + n, procs + 1).astype(int)
    outs, children = [], []
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        outs.append(os.path.join(tmp, f"gen-{i}.parquet"))
        children.append(subprocess.Popen([
            sys.executable, os.path.abspath(__file__), str(seed),
            str(shape["attr_frac"]), str(a), str(b), outs[-1],
        ]))
    codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"page generator exited with {codes}")
    parts = [pd.read_parquet(p) for p in outs]
    for p in outs:
        os.remove(p)
    return pd.concat(parts, ignore_index=True)


def _write_files(pdf: pd.DataFrame, path: str, files: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pdf.iloc[a:b].to_parquet(
            os.path.join(path, f"part-{i:03d}.parquet"), index=False
        )


def _with_duplicates(pdf: pd.DataFrame, seed: int, rate: float) -> pd.DataFrame:
    """Append exact copies of a seeded sample of rows: the same page
    fetched twice within WARC-Date's one-second resolution."""
    rng = np.random.default_rng([seed, 17])
    n_dup = max(1, round(rate * len(pdf)))
    dup = pdf.iloc[np.sort(rng.choice(len(pdf), n_dup, replace=False))]
    return pd.concat([pdf, dup], ignore_index=True)


def _probe_sets(pages: pd.DataFrame, seed: int, sizes: list[int]) -> dict:
    """Probe sets sampled (with replacement) from the synth query grid:
    exact match, between snapshots, before first, after last."""
    from crawlfe.synth import SynthConfig, query_grid_pdf

    grid = query_grid_pdf(SynthConfig(seed=seed), pages)
    out = {}
    for n in set(sizes):
        rng = np.random.default_rng([seed, n])
        p = grid.iloc[rng.integers(0, len(grid), n)].reset_index(drop=True)
        p.insert(0, "probe_id", np.arange(n, dtype=np.int64))
        out[n] = p
    return out


def _key(workload: str, seed: int, shape: dict, root: str) -> str:
    h = hashlib.sha256(json.dumps(shape, sort_keys=True).encode())
    for name in _GEN_SOURCES:
        with open(os.path.join(root, "crawlfe", name), "rb") as f:
            h.update(f.read())
    return f"{workload}-s{seed}-{h.hexdigest()[:12]}"


def _build(workload: str, seed: int, shape: dict, path: str) -> dict:
    pages = gen_pages(seed, shape, path)
    meta = {"n_urls": shape["n_urls"], "pages_generated": len(pages)}
    if workload == "pit_query":
        pages = _with_duplicates(pages, seed, shape["dup_rate"])
        meta["duplicates"] = len(pages) - meta["pages_generated"]
        for n, p in _probe_sets(pages, seed, shape["probe_sizes"]).items():
            _write_files(p, os.path.join(path, f"probes-{n}"), 1)
    _write_files(pages, os.path.join(path, "pages"), shape["files"])
    meta["n_pages"] = len(pages)
    return meta


def fixture(workload: str, seed: int, cache: str, root: str) -> tuple[str, dict]:
    """(directory, meta) of the workload's inputs for ``seed``; built
    once per key, published by an atomic rename."""
    shape = SHAPES[workload]
    path = os.path.join(cache, _key(workload, seed, shape, root))
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = os.path.join(cache, f".tmp-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        try:
            meta = _build(workload, seed, shape, tmp)
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f)
            try:
                os.rename(tmp, path)
            except OSError:  # a concurrent run published it first
                pass
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        return path, json.load(f)


if __name__ == "__main__":
    # one generator slice: seed attr_frac url_lo url_hi out.parquet
    from crawlfe.synth import SynthConfig, gen_pages_pdf

    seed, attr, lo, hi, out = sys.argv[1:]
    gen_pages_pdf(
        SynthConfig(seed=int(seed), attr_frac=float(attr)), int(lo), int(hi)
    ).to_parquet(out, index=False)
