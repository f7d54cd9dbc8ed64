"""Each workload's own figures, printed in the report above the result
line, and the headliner query names.

The gated metrics of the result line (end-to-end and per-layer, each with
its unit and direction) are read from BENCHMARK.json (see run.py).
"""

from __future__ import annotations

HEADLINERS = ("message_envelope", "latest_state", "sync_plan", "cdc_replay",
              "tpch_q1", "tpch_q3", "tpch_q5", "event_sessions",
              "text_stats", "dedup_minhash_lsh", "ann_cosine_topk",
              "tpch_q10", "clean_corpus")

# the workload's own figures, printed in the report: name -> (unit, better)
NAMED = {
    "pipeline": {"load_rows_per_s": ("rows/s", "higher"),
                 "verify_s": ("s", "lower"),
                 "resync_s": ("s", "lower"),
                 "cdc_lag_s": ("s", "lower"),
                 "cdc_catchup_changes_per_s": ("1/s", "higher"),
                 "cdc_backlog_end": ("count", "lower")},
    "headliners": {"headliners_total_s": ("s", "lower"),
                   **{f"headliner.{q}_s": ("s", "lower")
                      for q in HEADLINERS}},
}
