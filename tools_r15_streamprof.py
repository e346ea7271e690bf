"""Round-15 streaming decomposition workbench (guide §1: measure first).

Rebuilds the stream-stream join pair (and optionally other streaming
queries) exactly as the engine declares them, runs them to a memory sink
through the engine's own runner (``pipelines._run_stream``, so at the
engine's derived state-partition count), and prints the per-micro-batch StreamingQueryProgress decomposition:
durationMs (addBatch / getBatch / latestOffset / queryPlanning / walCommit /
commitOffsets) plus the stateOperators metrics (numRowsTotal, commit times,
memory, numShufflePartitions) — the evidence base for VERDICT r14 task 4 (trigger/watermark wait
vs compute, and the state-rows-bounded-by-watermark excerpt).

Nothing here feeds the bench artifact — it is a workbench.

Usage:
    python tools_r15_streamprof.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

from stockmarket_bigdata_project_spark.scratch import sink_name
from stockmarket_bigdata_project_spark.session import get_spark
from stockmarket_bigdata_project_spark.streaming import pipelines as P


def _run_traced(stream_df, sf_dir: str, label: str):
    name = sink_name(stream_df.sparkSession, f"prof_{label}_")
    start = time.perf_counter()
    q = P._run_stream(
        stream_df,
        sf_dir,
        lambda w: w.outputMode("append").format("memory").queryName(name),
    )
    wall = time.perf_counter() - start
    print(f"== {label}: wall {wall:.3f}s, {len(q.recentProgress)} progress events")
    agg: dict[str, float] = {}
    for p in q.recentProgress:
        dm = p.get("durationMs") or {}
        for k, v in dm.items():
            agg[k] = agg.get(k, 0.0) + v / 1000.0
        ops = p.get("stateOperators") or []
        srows = [
            (
                o.get("operatorName"),
                o.get("numRowsTotal"),
                o.get("numRowsUpdated"),
                o.get("numRowsRemoved"),
                round((o.get("allUpdatesTimeMs") or 0) / 1000.0, 3),
                round((o.get("commitTimeMs") or 0) / 1000.0, 3),
            )
            for o in ops
        ]
        print(
            f"  batch {p['batchId']}: rows={p.get('numInputRows')} "
            f"durations={json.dumps(dm)} state={srows}"
        )
    print(f"  TOTAL durationMs by phase: {json.dumps({k: round(v, 3) for k, v in sorted(agg.items(), key=lambda kv: -kv[1])})}")
    n_parts = sorted(
        {
            o["numShufflePartitions"]
            for p in q.recentProgress
            for o in p.get("stateOperators") or []
        }
    )
    print(f"  (stateOperators numShufflePartitions={n_parts})")
    return wall


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r15-streamprof")
    # pre-create the replay dir so its one-time cost (4 writes + mtime
    # sleeps) is not charged to the first traced query
    t0 = time.perf_counter()
    P.replay_dir(spark, sf_dir)
    print(f"replay_dir (one-time): {time.perf_counter() - t0:.3f}s")

    for _ in range(reps):
        for how, label in (("inner", "ss_join_inner"), ("leftOuter", "ss_join_left")):
            _run_traced(P._click_purchase_join(spark, sf_dir, how), sf_dir, label)


if __name__ == "__main__":
    main()
