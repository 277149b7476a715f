"""Seeded inputs for the benchmark workloads.

Rows come from the program's own transcript renderer
(``sources.events_transcripts.render_transcripts``) over an events window
whose first ``event_id`` is set by the seed, so every seed gives different
log lines (formats, IPs, endpoints, statuses) with the generator's default
conversation skew (1% of conversations hold 25% of turns). The program only
ever sees the files written here.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_analysis_system_spark.datagen.transcripts import synth_events
from log_analysis_system_spark.sources.events_transcripts import render_transcripts

TURNS_PER_CONV = 20
# one malformed line and one line without conv_id per this many drop lines
BAD_LINE_EVERY = 200


def window_start(seed: int, index: int = 0) -> int:
    """First event id of input ``index`` for ``seed``: disjoint windows."""
    return seed * 10_000_019 + index * 1_000_003


def transcripts(spark: SparkSession, n_turns: int, start: int) -> DataFrame:
    """``n_turns`` rendered transcript turns from the window at ``start``."""
    events = synth_events(spark, n_turns, max(1, n_turns // TURNS_PER_CONV))
    return render_transcripts(
        events.withColumn("event_id", F.col("event_id") + F.lit(start))
    )


def with_drops(df: DataFrame, turns_per_drop: int) -> DataFrame:
    """Number consecutive ``turns_per_drop``-turn slices of ``df`` in
    ``ts`` order (the generator's ``ts`` rises with ``event_id``) as
    column ``drop``: a feed cut into drops, whose conversations continue
    from one drop to the next."""
    order = F.row_number().over(Window.orderBy("ts")) - 1
    return df.withColumn("drop", F.floor(order / turns_per_drop).cast("int"))


def write_jsonl_drops(df: DataFrame, paths: list[str], seed: int) -> list[int]:
    """Write drop ``k`` of ``df`` (see :func:`with_drops`) as one JSONL file
    at ``paths[k]``, with a fixed share of malformed lines and lines without
    ``conv_id`` mixed in at seeded positions. Returns each file's number of
    bad lines (the expected ingest rejects)."""
    rows = df.toPandas()
    rng = random.Random(seed)
    bad = []
    for k, path in enumerate(paths):
        lines = [json.dumps({
            "conv_id": r.conv_id,
            "turn_idx": int(r.turn_idx),
            "role": r.role,
            "text": r.text,
            "tool": r.tool,
            "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
        }) for r in rows[rows["drop"] == k].itertuples(index=False)]
        n_bad = max(1, len(lines) // BAD_LINE_EVERY)
        for i in range(n_bad):
            lines.insert(rng.randrange(len(lines) + 1),
                         '{"conv_id": "conv-broken-%d", "turn_idx": 1, "text": "cut' % i)
            lines.insert(rng.randrange(len(lines) + 1), json.dumps({
                "turn_idx": i, "role": "user", "text": "orphan line %d" % i,
                "tool": None, "ts": "2023-10-10T13:55:36.000000",
            }))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        bad.append(2 * n_bad)
    return bad
