"""Regenerate STREAMING_EVIDENCE.md: one captured StreamingQueryProgress
per streaming battery entry (VERDICT r7 task 6). Batch EXPLAIN doesn't
apply to a memory-sink availableNow drain, but the progress record
carries the evidence that matters at 100×: rows ingested per
micro-batch, state-store row counts (bounded state = the scale claim),
watermark advance (late-data handling is live), and shuffle-partition
counts.

A StreamingQueryListener captures every progress event emitted while the
battery entry's own code runs UNMODIFIED — the evidence is from the same
drain the correctness check exercises, not a parallel reimplementation.

Run: python tools/gen_streaming_evidence.py
"""

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql.streaming import StreamingQueryListener

from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

ENTRIES = [
    "streaming_quality_filter",
    "streaming_replay_rollup",
    "streaming_session_windows",
    "streaming_line_moves",
    "streaming_stream_join",
    "streaming_incremental_rollup",
]

SF = "/root/testdata/sf0.01"


class _Capture(StreamingQueryListener):
    """Collects every progress event AND the query's micro-batch
    physical plan (r14 verdict task 4: batch df.explain doesn't apply
    to a memory-sink drain, so the plan
    is captured here, from the live query, during the same drain the
    correctness check exercises). The lookup races query termination
    (availableNow drains stop themselves), so it is attempted on every
    progress event and the LAST successful capture wins."""

    def __init__(self, spark):
        self.spark = spark
        self.progresses = []
        self.plan = None

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progresses.append(json.loads(event.progress.json))
        try:
            for q in self.spark.streams.active:
                if str(q.id) == str(event.progress.id):
                    self.plan = q._jsq.explainInternal(False)
        except Exception:  # noqa: BLE001 — query may terminate mid-lookup
            pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _summarize(progresses: list[dict]) -> dict:
    """Keep the load-bearing fields across the drain's micro-batches:
    totals over batches plus the FINAL batch's state/watermark view."""
    last = progresses[-1]
    state = [
        {
            "operatorName": s.get("operatorName"),
            "numRowsTotal": s.get("numRowsTotal"),
            "numRowsUpdated": s.get("numRowsUpdated"),
            "numRowsRemoved": s.get("numRowsRemoved"),
            "memoryUsedBytes": s.get("memoryUsedBytes"),
        }
        for s in last.get("stateOperators", [])
    ]
    return {
        "micro_batches": len(progresses),
        "total_input_rows": sum(p.get("numInputRows", 0) for p in progresses),
        "last_batch": {
            "batchId": last.get("batchId"),
            "numInputRows": last.get("numInputRows"),
            "processedRowsPerSecond": round(
                last.get("processedRowsPerSecond") or 0.0, 1
            ),
            "watermark": (last.get("eventTime") or {}).get("watermark"),
            "stateOperators": state,
        },
    }


def main() -> None:
    spark = get_spark(app_name="streaming_evidence", master="local[4]")
    out = ["""# STREAMING_EVIDENCE — captured StreamingQueryProgress per streaming entry

Generated by `tools/gen_streaming_evidence.py` (VERDICT r7 task 6): the
five memory-sink streaming entries have no batch EXPLAIN (it doesn't
apply to a memory-sink drain), so each gets a progress capture from its real
correctness drain at sf0.01 instead. What to read:

- `micro_batches` / `total_input_rows` — the replay genuinely arrives in
  multiple micro-batches (maxFilesPerTrigger staging), so the stateful
  path (merge across batches) is the path being certified, not a
  single-batch degenerate.
- `stateOperators.numRowsTotal` — state is bounded by key/window count,
  never by input rows: the 100× claim. `numRowsRemoved` > 0 on the
  watermarked entries shows eviction is live.
- `watermark` — advances past the staged history, so late-data semantics
  (the drop/accept boundary the oracle encodes) are exercised.
- the micro-batch physical plan (r14 verdict task 4) — captured live
  from the query during the drain (`explainInternal`); look for
  StateStoreSave/SessionWindowStateStoreSave, the watermark filter, and
  FlatMapGroupsInPandasWithState as the stateful operators.
"""]
    for name in ENTRIES:
        cap = _Capture(spark)
        spark.streams.addListener(cap)
        try:
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, SF)
            n = df.count()
            wall = round(time.perf_counter() - t0, 2)
            # listener events are delivered async; give the bus a moment
            deadline = time.time() + 10
            while not cap.progresses and time.time() < deadline:
                time.sleep(0.2)
            time.sleep(0.5)
        finally:
            spark.streams.removeListener(cap)
        summary = _summarize(cap.progresses) if cap.progresses else {}
        out.append(f"## {name}\n")
        out.append(
            f"result rows: {n}; drain wall: {wall}s; "
            f"{QUERIES[name].description}\n"
        )
        out.append("```json")
        out.append(json.dumps(summary, indent=2))
        out.append("```\n")
        if cap.plan:
            out.append(
                "Micro-batch physical plan (last successful capture "
                "during the drain):\n"
            )
            out.append("```")
            out.append(cap.plan.strip())
            out.append("```\n")
        print(
            name, "OK", summary.get("micro_batches"), "batches",
            "plan" if cap.plan else "NO-PLAN", flush=True,
        )
    with open(REPO / "STREAMING_EVIDENCE.md", "w") as f:
        f.write("\n".join(out))
    print("wrote STREAMING_EVIDENCE.md")
    spark.stop()


if __name__ == "__main__":
    main()
