"""event-stream load generator: a process of its own, open loop.

Stages every input file ahead of the schedule, then releases file i
into the stream's input directory by one atomic rename at its due time
``t0 + (i + 1) * FILE_MS``, whatever the stream is doing. The newest
event of each file carries exactly its due time. Prints one JSON object:
the name, due time and actual release time of every file.

Usage: python3 generator.py <config-json>
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import stream_file  # noqa: E402
from workloads import FILE_MS, PLAYERS, RATE_HZ  # noqa: E402


def main() -> None:
    cfg = json.loads(sys.argv[1])
    t0, n_files = cfg["t0"], cfg["files"]
    stage_dir, input_dir = cfg["stage_dir"], cfg["input_dir"]
    rng = np.random.default_rng(cfg["seed"])
    per_player = RATE_HZ * FILE_MS // 1000
    os.makedirs(stage_dir, exist_ok=True)
    names, dues = [], []
    for i in range(n_files):
        lo_us = int(t0 * 1e6) + i * FILE_MS * 1000
        hi_us = lo_us + FILE_MS * 1000
        name = f"events-{i:06d}.parquet"
        table = stream_file(rng, i * PLAYERS * per_player, PLAYERS, per_player, lo_us, hi_us)
        pq.write_table(table, os.path.join(stage_dir, name))
        names.append(name)
        dues.append(hi_us / 1e6)
    released = []
    for name, due in zip(names, dues):
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage_dir, name), os.path.join(input_dir, name))
        released.append(time.time())
    print(json.dumps({"names": names, "due": dues, "released": released}))


if __name__ == "__main__":
    main()
