"""Workload definitions and the constants every process of a run shares.

Each batch workload is a fixed list of registered queries; the seed
fixes the generated inputs and every pass's query order. The query
lists are subsets of the module families named in the benchmark's
documentation (METRICS.md): small enough that a fresh session runs a
cold pass, several warm passes and the output check inside one run.
"""

from __future__ import annotations

import random

BATCH = {
    # Session-memo owners with their consumers, Python (pandas/Arrow)
    # workers and BLAS similarity kernels.
    "llm-curation": [
        "exact_dedup",
        "minhash_lsh_neardup",
        "ann_bruteforce_topk",
        "classifier_calibration_audit",
        "gumbel_topk_resample",
        "pandas_udf_scalar",
        "multimodal_decode_features",
    ],
}
STREAM = "event-stream"
WORKLOADS = (*BATCH, STREAM)

# Scale factor of the generated tables (lineitem = 6M x SF rows). The
# set-up smoke query and the workload read the same tables. At this
# scale the row floors in datagen.py set most table sizes.
SF = 0.001

# event-stream load: PLAYERS keys at RATE_HZ events per key per second,
# one input file per FILE_MS of event time.
PLAYERS = 200
RATE_HZ = 100
FILE_MS = 50
# Files due in the first WARMUP_S seconds are checked but not timed:
# they carry the stream's first-batch planning and state-store start,
# and the catch-up batches after it.
WARMUP_S = 4.0
# A file after the warm-up emitted later than this after its due time
# counts as failed; a warm-up file fails only if it is never emitted.
LATENCY_LIMIT_MS = 10000.0
# A generator whose 90th-percentile release lateness exceeds this fell
# behind its schedule: the run is invalid (not the scheduled load).
GEN_LATE_LIMIT_MS = 100.0


# A warm llm-curation pass takes about this long on 4 cores. The run
# makes a fixed number of warm passes, sized from --seconds with it, not
# as many as fit: the passes speed up as the JIT warms, so a stopping
# rule by time would let host speed pick which passes the median sees.
WARM_PASS_S = 3.0


def warm_passes(seconds: float) -> int:
    """Number of warm passes for a run of ``seconds`` (at least 2)."""
    return max(2, round(seconds / WARM_PASS_S))


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a function of (workload, seed, pass)."""
    names = list(BATCH[workload])
    random.Random(f"{workload}/{seed}/{pass_no}").shuffle(names)
    return names
