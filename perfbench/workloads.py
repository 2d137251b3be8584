"""The benchmark's workloads: input shape and engine settings of each.

Why each exists is recorded in BENCHMARK.json and DESIGN.md.  Sizes are set
so that one run (fresh JVM, set-up, warm-up, measurement, check) stays near
35 s on a 4-core VM: an evaluation makes 4 + 22 runs per workload and must
end within 3420 s.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import SHORT_BELOW, CorpusSpec

# filter thresholds of batch_chain (the generator plants rows on both sides)
MIN_TOK = SHORT_BELOW
MAX_TOK = 100_000
MIN_UNIQUE = 0.1

# MinHash settings of batch_chain and the limits its check holds them to:
# near-copy recall over planted NEAR rows, and the share of fresh rows the
# MinHash stage may drop by mistake.  num_perm and seed are pinned, not left
# to minhash_dedup's defaults, so the timed chain and the traced
# decomposition run the same MinHash.
MINHASH = {"use_tokens": True, "token_ngram": 3, "bands": 16, "num_perm": 128, "seed": 1}
NEAR_RECALL_MIN = 0.90
FALSE_DROP_MAX = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    spec: CorpusSpec
    backlog_files: int = 0  # stream: files present before the query starts
    max_files_per_trigger: int = 0
    feed_rate: float = 0.0  # stream: files per second in the open loop


# stream_builtin's watermark delay, pinned: the late rows sit an hour behind
WATERMARK = "10 minutes"


# Both stream workloads read this feed.  Late rows (event_time one hour
# back) start after the first two triggers' files: Spark drops late rows
# against the previous batch's watermark, which exists from the third batch.
STREAM_SPEC = CorpusSpec(
    files=408, rows_per_file=25, len_lo=48, len_hi=2048, len_alpha=1.6,
    exact_share=0.10, late_share=0.02, late_after_file=192,
    warmup_rows_per_file=25,
)
STREAM = {"backlog_files": 288, "max_files_per_trigger": 96, "feed_rate": 17.0}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_chain", "batch",
            CorpusSpec(
                files=12, rows_per_file=2000, len_lo=24, len_hi=4096, len_alpha=1.5,
                exact_share=0.30, near_share=0.10, near_rate=0.01, degen_share=0.02, short_share=0.04,
            ),
        ),
        Workload("stream_builtin", "stream", STREAM_SPEC, **STREAM),
        Workload("stream_indexed", "stream", STREAM_SPEC, **STREAM),
    )
}
