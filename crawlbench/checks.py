"""Output checks against crawlfe's independent oracles (never timed).

* ``backfill``, and ``pit_query``'s committed table, compare an order-independent digest of
  the system's output (row count plus a DECIMAL sum of per-row
  xxhash64 over every output column) with the same digest of the
  oracle's frame. Spark computes both digests; only the hash is
  shared, the values come from ``crawlfe.oracle``.
* ``pit_query`` checks every probe in a way that holds for any as-of
  strategy: exactly one row per probe, the matched ``warc_ts`` equals
  ``pd.merge_asof``'s, and the payload equals one build row with that
  ``(url, warc_ts)``.

Each check has a self-test that feeds perturbed outputs through the
same comparison and requires every perturbation to count as a failure.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlfe.oracle import (
    oracle_asof, oracle_features, oracle_lag_lead, oracle_sessionize,
)

PAYLOAD = ["text_sha256", "feat", "lag_gap_s", "lead_gap_s", "session_id"]
TABLE_COLS = ["url", "warc_ts", "text_sha256", "feat", "feat_version"]


def digest(df: DataFrame, cols: list[str] | None = None) -> tuple[int, str]:
    """(rows, DECIMAL sum of xxhash64 over ``cols``) — one Spark job
    that reads every listed column, so nothing can be pruned away."""
    cols = list(df.columns) if cols is None else cols
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def to_spark(spark, pdf: pd.DataFrame, schema) -> DataFrame:
    """pandas frame -> DataFrame of exactly ``schema``; NaN/NaT become
    NULL, as in Spark's own output."""
    pdf = pdf[[f.name for f in schema.fields]].copy()
    for f in schema.fields:
        kind = f.dataType.typeName()
        if kind in ("long", "integer"):
            pdf[f.name] = pdf[f.name].astype("Int64")
        elif kind == "double":
            pdf[f.name] = pdf[f.name].astype("float64")
        elif pdf[f.name].dtype == object:
            pdf[f.name] = [
                None if isinstance(v, float) and math.isnan(v) else v
                for v in pdf[f.name]
            ]
    out = spark.createDataFrame(pdf, schema=schema)
    return out.select(*[
        F.when(F.isnan(f.name), None).otherwise(F.col(f.name)).alias(f.name)
        if f.dataType.typeName() == "double" else F.col(f.name)
        for f in schema.fields
    ])


def oracle_enriched(feats: pd.DataFrame, session_gap_s: int = 86400) -> pd.DataFrame:
    """The build side ``feature_pipeline`` joins: ``oracle_features``
    output + lag/lead gaps + session ids, from the single-node oracles."""
    return oracle_sessionize(
        oracle_lag_lead(feats), gap_seconds=session_gap_s
    )[["url", "warc_ts"] + PAYLOAD]


def backfill_oracle_pdf(pages: pd.DataFrame) -> pd.DataFrame:
    """Expected ``feature_pipeline`` output on the +1 h probe grid."""
    probe = pd.DataFrame({
        "url": pages["url"],
        "join_ts": pages["warc_ts"] + pd.Timedelta(hours=1),
    })
    out = oracle_asof(probe, oracle_enriched(oracle_features(pages)),
                      build_cols=PAYLOAD)
    out["matched"] = out["warc_ts"].notna()
    return out


SELFTEST_ROWS = 100


def perturbed(pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """One matched ts shifted by 1 s; one row dropped; one row doubled
    (the fan-out a non-unique build side causes)."""
    i = int(np.flatnonzero(pdf["warc_ts"].notna().to_numpy())[0])
    shifted = pdf.copy()
    shifted.loc[i, "warc_ts"] = shifted.loc[i, "warc_ts"] + pd.Timedelta(seconds=1)
    return [
        shifted,
        pdf.drop(index=pdf.index[i]),
        pd.concat([pdf, pdf.iloc[[i]]], ignore_index=True),
    ]


def digest_selftest(spark, expected_pdf: pd.DataFrame, schema) -> bool:
    """Every perturbation of a slice of the oracle frame must fail the
    digest comparison against the unperturbed slice."""
    part = expected_pdf.head(SELFTEST_ROWS)
    want = digest(to_spark(spark, part, schema))
    return all(
        digest(to_spark(spark, p, schema)) != want for p in perturbed(part)
    )


class ProbeChecker:
    """Per-probe check of a point-in-time query result."""

    def __init__(self, enriched: pd.DataFrame):
        self.build_keys = enriched[["url", "warc_ts"]]
        self.build_rows = np.unique(self._row_keys(enriched))

    @staticmethod
    def _row_keys(df: pd.DataFrame) -> np.ndarray:
        """(url, warc_ts, payload) of each row hashed to one uint64; NaN
        and None compare equal, feature vectors compare bit for bit."""
        ts = df["warc_ts"].astype("datetime64[us]")
        feat = [None if not isinstance(v, np.ndarray) else v.tobytes()
                for v in df["feat"]]
        key = pd.util.hash_pandas_object(pd.DataFrame({
            "url": df["url"], "ts": ts, "sha": df["text_sha256"],
            "feat": feat, "lag": df["lag_gap_s"].astype("float64"),
            "lead": df["lead_gap_s"].astype("float64"),
            "sid": df["session_id"].astype("float64"),
        }), index=False)
        return key.to_numpy()

    def failing_probes(self, res: pd.DataFrame, probes: pd.DataFrame) -> int:
        """Number of probes whose rows break the contract: not exactly
        one row, a matched ts other than merge_asof's, a probe column
        changed, or a payload that is no build row (all NULL when
        unmatched)."""
        ids = probes["probe_id"].to_numpy()
        per_probe = res["probe_id"].value_counts().reindex(ids, fill_value=0)
        bad = per_probe.to_numpy() != 1
        first = res.drop_duplicates("probe_id").set_index("probe_id").reindex(ids)
        want = oracle_asof(probes, self.build_keys, build_cols=[])
        want = want.set_index("probe_id")["warc_ts"].reindex(ids)
        got = first["warc_ts"].astype("datetime64[us]")
        want = want.astype("datetime64[us]")
        p = probes.set_index("probe_id").reindex(ids)
        bad |= ~((got == want) | (got.isna() & want.isna())).to_numpy()
        bad |= (first["url"] != p["url"]).to_numpy()
        bad |= (first["join_ts"].astype("datetime64[us]")
                != p["join_ts"].astype("datetime64[us]")).to_numpy()
        matched = got.notna().to_numpy()
        in_build = np.isin(self._row_keys(first.reset_index()), self.build_rows)
        unmatched_null = first[PAYLOAD].isna().all(axis=1).to_numpy()
        bad |= np.where(matched, ~in_build, ~unmatched_null)
        return int(bad.sum())

    def selftest(self, res: pd.DataFrame, probes: pd.DataFrame) -> bool:
        return all(
            self.failing_probes(p, probes) > 0 for p in perturbed(res)
        )
