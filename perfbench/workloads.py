"""The benchmark's workloads: pinned query lists and why each was chosen.

Each workload is a fixed subset of the queries one group of operator
modules registers. The subsets are sized so that one pass takes a few
seconds on 4 cores and a whole run (session start, warm-up and
correctness pass, timed passes) stays near a minute; the full module
lists would take 30-60 s per pass. README.md explains why there is
no ``relational`` workload.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the multimodal manifest composite: build and construction-time
    # jobs dominate (thread pool, four CC loops, frame memo, codec
    # pandas UDFs, quality screens)
    "admission": ("pipeline_multimodal_manifest",),
    # availableNow drains through the memory and foreachBatch sinks
    # (parquet written and read back); the only workload that runs the
    # streaming and sources layers
    "streaming": ("stream_tumbling_hourly", "stream_doc_shingles",
                  "stream_audio_fingerprints"),
}
