"""Open-loop input generator: lands one parquet file per period.

Runs as its own process so that it keeps its schedule whatever Spark
does. File ``i`` is due at ``t0 + i * period`` (wall clock) and its
events carry the same offset on the stream's own clock, so one seed
always yields the same files. Each file is written under a
staging directory and renamed into the watched directory, so the stream
source never sees a partial file. Every file's due and actual landing
time go to a JSON-lines log the benchmark joins against.

Usage: python3 -m perfbench.feeder <json config>
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.datagen import STREAM_T0_US, STREAM_USERS, stream_batch, zipf_weights


def file_name(index: int) -> str:
    return f"part-{index:06d}.parquet"


def run(cfg: dict) -> None:
    out_dir, stage_dir = cfg["dir"], cfg["dir"] + ".staging"
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng([cfg["seed"], cfg["stream"]])
    weights = zipf_weights(STREAM_USERS)
    t0, period, rows = cfg["t0"], cfg["period_s"], cfg["rows"]
    with open(cfg["log"], "w") as log:
        for i in range(cfg["files"]):
            due = t0 + i * period
            event_us = STREAM_T0_US + round(i * period * 1e6)
            table = stream_batch(rng, i, rows, event_us, weights)
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = file_name(i)
            tmp = os.path.join(stage_dir, name)
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(out_dir, name))
            written = time.time()
            log.write(json.dumps({"file": name, "due": due, "written": written}) + "\n")
            log.flush()


if __name__ == "__main__":
    run(json.loads(sys.argv[1]))
