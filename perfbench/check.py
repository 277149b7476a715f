"""Output check: expected sink row counts by two paths independent of
``run_pipeline``, and the read-back of what a run left on disk.

- :func:`formula_route_counts` derives the route-stage sinks' counts from
  the generator's formulas with numpy: no Spark, no regex parse.
- :func:`expected_counts` counts every sink on the Spark path: the ``sql``
  parse engine (the pipeline runs ``pandas``), ``enrich``, and the
  detector, metric and anomaly operators applied straight to in-memory
  frames, with no bucketing, routing, sink writes or read-back.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_analysis_system_spark.config import DEFAULT_CONFIG
from log_analysis_system_spark.functions.parse import parse_transcripts
from log_analysis_system_spark.operators import anomaly as an
from log_analysis_system_spark.operators import performance as perf
from log_analysis_system_spark.operators import security as sec
from log_analysis_system_spark.sources.dims import enrich
from log_analysis_system_spark.sources.events_transcripts import ENDPOINTS

SEVERITIES = ("high", "medium", "low")
ROUTE_SINKS = ("parsed_turns", "error_turns", "rejects") + tuple(
    f"security_events_{s}" for s in SEVERITIES)
SINKS = ROUTE_SINKS + tuple(f"security_events_agg_{s}" for s in SEVERITIES) + (
    "performance_metrics", "anomalies", "ip_threat_scores")
STREAM_SINKS = ("parsed_turns",) + tuple(f"security_events_{s}" for s in SEVERITIES)


def row_events(enriched: DataFrame) -> DataFrame:
    return sec.attack_events(enriched).unionByName(sec.scan_events(enriched))


def agg_events(access: DataFrame) -> DataFrame:
    return (
        sec.suspicious_ip_events(access)
        .unionByName(sec.brute_force_events(access))
        .unionByName(sec.unusual_method_events(access))
    )


def anomalies(access: DataFrame) -> DataFrame:
    return an.response_time_zscore_anomalies(access).select(
        "event_ts", "metric_name").unionByName(
        an.error_rate_iqr_anomalies(access).select("event_ts", "metric_name"))


def _matches(patterns) -> np.ndarray:
    """Per generator endpoint, whether a row detector's first-match-wins
    pattern list hits it (``rlike`` with ``(?i)``; Python ``re`` agrees on
    these patterns)."""
    return np.array([any(re.search(p, e, re.IGNORECASE) for p in patterns)
                     for e in ENDPOINTS])


ATTACK = _matches(DEFAULT_CONFIG.attack_patterns)
SCAN = _matches(DEFAULT_CONFIG.scan_patterns)


def formula_route_counts(first_event_id: int, n: int) -> dict[str, int]:
    """Route-stage sink counts for events ``first_event_id ..
    first_event_id + n - 1``, straight from the generator's formulas
    (``sources.events_transcripts``), without Spark: ``event_id % 20``
    picks the line format (0-17 access, 18 error, 19 malformed) and
    ``event_id % 23`` the endpoint the row detectors match on."""
    ids = np.arange(first_event_id, first_event_id + n, dtype=np.int64)
    slot, endpoint = ids % 20, ids % 23
    access = slot <= 17
    return {
        "parsed_turns": int(access.sum()),
        "error_turns": int((slot == 18).sum()),
        "rejects": int((slot == 19).sum()),
        "security_events_high": int((access & ATTACK[endpoint]).sum()),
        "security_events_medium": int((access & SCAN[endpoint]).sum()),
        "security_events_low": 0,
    }


def expected_counts(transcripts: DataFrame) -> dict[str, int]:
    """Row count of every sink ``run_pipeline`` writes for one input, by
    the Spark path: ``sql`` parse engine, ``enrich`` and the operators on
    in-memory frames, all counted in one job whose branches run side by
    side."""
    enriched = enrich(parse_transcripts(transcripts, engine="sql")).persist()
    try:
        access = enriched.where(F.col("log_type") == "access")
        rows, aggs = row_events(enriched), agg_events(access)
        kind = (F.when(F.col("log_type") == "access", "parsed_turns")
                .when(F.col("log_type") == "error", "error_turns")
                .when(F.col("log_format").isNull(), "rejects"))

        def by_severity(events: DataFrame, prefix: str) -> DataFrame:
            return events.groupBy(F.concat(F.lit(prefix), "severity").alias("sink")).agg(
                F.count("*").alias("n"))

        def total(df: DataFrame, name: str) -> DataFrame:
            return df.agg(F.count("*").alias("n")).select(F.lit(name).alias("sink"), "n")

        counts = (
            enriched.groupBy(kind.alias("sink")).agg(F.count("*").alias("n"))
            .unionByName(by_severity(rows, "security_events_"))
            .unionByName(by_severity(aggs, "security_events_agg_"))
            .unionByName(total(perf.performance_metrics(access), "performance_metrics"))
            .unionByName(total(anomalies(access), "anomalies"))
            .unionByName(total(sec.ip_threat_scores(aggs.unionByName(rows)), "ip_threat_scores"))
        )
        out = dict.fromkeys(SINKS, 0)
        out.update({r["sink"]: r["n"] for r in counts.collect() if r["sink"] is not None})
        return out
    finally:
        enriched.unpersist()


def sink_rows(path: str, batch_id: int | None = None) -> int:
    """Rows on disk under a sink directory (or one ``batch_id=``
    partition of it), summed from the parquet footers with pyarrow, a
    reader independent of Spark. A sink with no rows has no part files."""
    if batch_id is not None:
        path = os.path.join(path, f"batch_id={batch_id}")
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(f"{path}/**/*.parquet", recursive=True))


def batch_mismatches(
    out_dir: str, run_id: str, expected: dict[str, int],
    reported: dict[str, int], n_buckets: int,
    ingest_rejects: int | None = None,
) -> list[str]:
    """Compare one ``run_pipeline`` run's sinks, read back from disk, and
    the counts it reported, with ``expected`` (a sink missing from it must
    read back as many rows as reported); also its state rows."""
    bad = []
    for name in SINKS:
        got = sink_rows(os.path.join(out_dir, name))
        want = expected.get(name, reported.get(name))
        if got != want or reported.get(name) != want:
            bad.append(f"{name}: disk {got}, reported {reported.get(name)}, "
                       f"expected {expected.get(name, 'as reported')}")
    state = pq.read_table(os.path.join(out_dir, "state_metrics")).to_pandas()
    state = state[state["run_id"] == run_id]
    route = state[state["stage"] == "route"]
    if (len(route), route["row_count"].sum()) != (n_buckets, expected["parsed_turns"]):
        bad.append(f"state_metrics route: {len(route)} rows, "
                   f"{route['row_count'].sum()} turns; expected {n_buckets} rows, "
                   f"{expected['parsed_turns']} turns")
    if (state["stage"] == "aggregate").sum() != 1:
        bad.append("state_metrics has no single aggregate row for the run")
    if ingest_rejects is not None:
        got = sink_rows(os.path.join(out_dir, "rejects_jsonl"))
        if got != ingest_rejects:
            bad.append(f"rejects_jsonl: disk {got}, expected {ingest_rejects}")
    return bad


def stream_mismatches(
    out_dir: str, batch_ids: list[int], expected: list[dict[str, int]],
) -> list[str]:
    """Compare the stream sinks' per-``batch_id`` row counts for one round
    with the expected counts of the drops it consumed (one drop per batch;
    the batch order of drops is the file source's, so compare as sorted
    lists)."""
    bad = []
    for name in STREAM_SINKS:
        got = sorted(sink_rows(os.path.join(out_dir, name), b) for b in batch_ids)
        want = sorted(e[name] for e in expected)
        if got != want:
            bad.append(f"{name}: per-batch {got}, expected {want}")
    return bad
