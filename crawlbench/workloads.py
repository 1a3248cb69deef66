"""The two workloads, each driving crawlfe's public functions.

A workload has ``setup()`` (the system work its timed part needs;
repeatable, the last call leaves the state the timed part uses),
``warm()`` (one small untimed operation), ``run_once()`` (one complete
run: its wall time and the operations it attempted), ``verify()`` (the
oracle checks, run after the timed part) and ``io_stats()`` (what the
table on disk holds). Why each workload exists is in NOTES.md.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import crawlfe.features as features
import crawlfe.pipeline as pipeline
from crawlfe.io import IcebergLite

import checks
from fixtures import SHAPES


@dataclass
class Op:
    latency_s: float | None  # None: checked, but not a latency sample
    result: object = None
    ok: bool | None = None  # None until checked
    items: int = 0


@dataclass
class Run:
    wall_s: float  # NaN: not a wall-time sample
    ops: list[Op] = field(default_factory=list)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _fresh_table(old: IcebergLite | None, work: str, name: str) -> IcebergLite:
    """A new, empty table under ``work``; ``old`` (the previous
    set-up's) is deleted."""
    if old is not None:
        shutil.rmtree(old.path)
    return IcebergLite(os.path.join(work, f"{name}-{uuid.uuid4().hex[:8]}"))


def _table_stats(t: IcebergLite) -> dict:
    """What a set-up's single staged-then-committed write left on disk."""
    return {
        "stored_bytes": _du(t.data_dir) + _du(t.manifest_dir),
        "bytes_written": _du(t.path),
        "files_written": sum(len(f) for _, _, f in os.walk(t.path)),
        "orphan_bytes": _du(t.staging_dir),
        "staged": 1, "committed": len(t.manifests()),
    }


class Backfill:
    """Set-up commits the pages to an IcebergLite table, the shape of a
    production input. A run is one batch job: table scan -> featurize
    -> feature_pipeline(merge_scan_slim) on the +1 h probe grid,
    consumed by a digest over every output column."""

    name = "backfill"
    strategy = "merge_scan_slim"

    def __init__(self, spark, fx: str, meta: dict, work: str):
        self.spark, self.fx, self.meta, self.work = spark, fx, meta, work
        self.pages_path = os.path.join(fx, "pages")
        self.n_pages = meta["n_pages"]
        self.probes_per_run = self.n_pages
        self.table = None
        self.schema = None
        # a scaling leg is handed the digest its parent run verified
        self.expected = None

    def _job(self):
        pages = self.table.read(self.spark)
        feats = features.featurize(pages, use_html=True).persist()
        n = feats.count()
        probe = pages.select(
            "url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("join_ts")
        )
        out = pipeline.feature_pipeline(
            feats, probe, session_gap_s=86400, strategy=self.strategy
        )
        self.schema = out.schema
        d = checks.digest(out)
        feats.unpersist()
        return n, d

    def setup(self) -> None:
        self.table = _fresh_table(self.table, self.work, "pages")
        self.table.append(self.spark.read.parquet(self.pages_path), "pages-0000")

    def warm(self) -> None:
        # jobs keep getting faster for the first few (JIT): after one
        # warm-up job the next ran 5-30% slower than the fourth
        for _ in range(2):
            self._job()

    def run_once(self) -> Run:
        t0 = time.perf_counter()
        n, d = self._job()
        dt = time.perf_counter() - t0
        return Run(dt, [Op(dt, (n, d), items=n)])

    def pages_per_s(self, wall_s: float, op_s: float) -> float:
        return self.n_pages / wall_s

    def io_stats(self) -> dict:
        return _table_stats(self.table)

    def verify(self, runs: list[Run]) -> bool:
        selftest, expected = True, self.expected
        if expected is None:
            pages = pd.read_parquet(self.pages_path)
            expected_pdf = checks.backfill_oracle_pdf(pages)
            expected = checks.digest(
                checks.to_spark(self.spark, expected_pdf, self.schema))
            selftest = checks.digest_selftest(
                self.spark, expected_pdf, self.schema)
        self.expected = expected
        for r in runs:
            for op in r.ops:
                if op.ok is None:
                    n, d = op.result
                    op.ok = n == self.n_pages and d == expected
        return selftest


class PitQuery:
    """Set-up featurizes the pages and commits them to a fresh
    IcebergLite table with commit_batch. Then one client issues
    point-in-time queries back to back (closed loop), probe sets from
    ≈10^3 to ≈10^5 probes."""

    name = "pit_query"

    def __init__(self, spark, fx: str, meta: dict, work: str):
        self.spark, self.fx, self.meta, self.work = spark, fx, meta, work
        self.sizes = SHAPES[self.name]["probe_sizes"]
        self.n_pages = meta["n_pages"]
        self.probes_per_run = sum(self.sizes)
        self.table = None
        self._oracle = None
        self._selftest = None

    def probes_path(self, n: int) -> str:
        return os.path.join(self.fx, f"probes-{n}")

    def setup(self) -> None:
        self.table = _fresh_table(self.table, self.work, "features")
        pages = self.spark.read.parquet(os.path.join(self.fx, "pages"))
        pipeline.commit_batch(self.spark, pages, self.table, "snap-0000")

    def warm(self) -> None:
        # queries, too, keep getting faster for the first few
        for n in (max(self.sizes), min(self.sizes)):
            self.query(n)

    def query(self, n: int) -> pd.DataFrame:
        feats = self.table.read(self.spark)
        probes = self.spark.read.parquet(self.probes_path(n))
        return pipeline.feature_pipeline(feats, probes).toPandas()

    def run_once(self) -> Run:
        ops = []
        for n in self.sizes:
            t0 = time.perf_counter()
            res = self.query(n)
            ops.append(Op(time.perf_counter() - t0, items=n))
            # checked between queries, outside the timed region, so the
            # client holds one result at a time
            self._check(ops[-1], res)
        return Run(sum(o.latency_s for o in ops), ops)

    def pages_per_s(self, wall_s: float, op_s: float) -> float:
        """Build-side pages as-of-joined per second of query time."""
        return self.n_pages / op_s

    def io_stats(self) -> dict:
        return _table_stats(self.table)

    def oracle(self) -> tuple[pd.DataFrame, checks.ProbeChecker]:
        if self._oracle is None:
            feats = checks.oracle_features(
                pd.read_parquet(os.path.join(self.fx, "pages")))
            self._oracle = feats, checks.ProbeChecker(checks.oracle_enriched(feats))
        return self._oracle

    def _check(self, op: Op, res: pd.DataFrame) -> None:
        checker = self.oracle()[1]
        probes = pd.read_parquet(self.probes_path(op.items))
        op.result = checker.failing_probes(res, probes)
        op.ok = op.result == 0
        if self._selftest is None and op.ok:
            self._selftest = checker.selftest(res, probes)

    def verify(self, runs: list[Run]) -> bool:
        """Adds one checked operation: the committed table against the
        features oracle, its snapshot and its lineage row counts."""
        feats = self.oracle()[0]
        back = self.table.read(self.spark)
        schema = back.select(*checks.TABLE_COLS).schema
        manifests = self.table.manifests()
        ok = (
            checks.digest(back, checks.TABLE_COLS)
            == checks.digest(checks.to_spark(self.spark, feats, schema))
            and [m["input_snapshot"] for m in manifests] == ["snap-0000"]
            and sum(r["n_rows"] for m in manifests for r in m["lineage"])
            == self.n_pages
        )
        runs.append(Run(float("nan"), [Op(None, ok=ok, items=self.n_pages)]))
        return bool(self._selftest) and checks.digest_selftest(
            self.spark, feats, schema)


WORKLOADS = {w.name: w for w in (Backfill, PitQuery)}
