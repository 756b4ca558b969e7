"""Open-loop tweet generator for the ``tweet_stream`` workload.

One process, one thread. It renders every drop before the schedule
starts, so writing a drop costs one small file write and a rename and
the schedule does not slow when the system under test does. Steady
drop ``k`` is due at ``t_start + k * interval``; each burst is renamed
in, all files at once, when the worker asks for it by creating
``<control>/burst_<b>``.

Usage: python3 perfbench/tweetgen.py <config.json>
The config names the input, staging and control directories, the seed,
the schedule and the burst sizes; the generator writes its log (due and
rename times per drop, rename time per burst) to ``config["log"]``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
import time

import tweets

#: offset of the first drop after a whole second (a trigger boundary)
PHASE_S = 0.05


def _iso(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def main(cfg: dict) -> None:
    seed, inp, stage, ctl = cfg["seed"], cfg["input"], cfg["staging"], cfg["control"]
    per_drop, interval, n_drops = cfg["per_drop"], cfg["interval"], cfg["drops"]
    ready = {"steady_en": 0, "burst_en": []}
    bodies = []
    for k in range(n_drops):
        batch = tweets.render(seed, "steady", cfg["steady_base"] + k * per_drop, per_drop)
        ready["steady_en"] += sum(1 for _, lang, _ in batch if lang == "en")
        bodies.append(tweets.ndjson(batch, "{due}"))
    burst_files = []
    for b, first in enumerate(cfg["burst_bases"]):
        names = []
        ready["burst_en"].append(0)
        for f in range(cfg["burst_files"]):
            batch = tweets.render(seed, "burst", first + f * cfg["burst_per_file"], cfg["burst_per_file"])
            ready["burst_en"][b] += sum(1 for _, lang, _ in batch if lang == "en")
            name = f"burst{b}_{f}.json"
            with open(os.path.join(stage, name), "w") as fh:
                fh.write(tweets.ndjson(batch, _iso(time.time())))
            names.append(name)
        burst_files.append(names)
    # Triggers fire on whole multiples of the trigger interval, so the
    # schedule starts at a fixed phase to them: with a free phase, the
    # wait for the next trigger, and with it the latency, would shift
    # by up to one drop interval from run to run.
    ready["t_start"] = t_start = math.ceil(time.time() + 0.2) + PHASE_S
    with open(os.path.join(ctl, "ready.tmp"), "w") as fh:
        json.dump(ready, fh)
    os.rename(os.path.join(ctl, "ready.tmp"), os.path.join(ctl, "ready"))

    log = {"t_start": t_start, "due": [], "renamed": [], "bursts": []}
    for k, body in enumerate(bodies):
        due = t_start + k * interval
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        # created_at is the drop's due time, known once t_start is
        tweets.drop(os.path.join(inp, f"drop{k:05d}.json"), stage, body.replace("{due}", _iso(due)))
        log["due"].append(due)
        log["renamed"].append(time.time())
    for b, names in enumerate(burst_files):
        go = os.path.join(ctl, f"burst_{b}")
        deadline = time.time() + 120
        while not os.path.exists(go):
            if time.time() > deadline:
                raise TimeoutError(f"no request for burst {b}")
            time.sleep(0.005)
        # rename half-way between triggers: the idle query lists the
        # input only at trigger boundaries, so one trigger reads the
        # whole burst instead of splitting it across two batches
        time.sleep((0.5 - time.time()) % 1.0)
        t0 = time.time()
        for name in names:
            os.rename(os.path.join(stage, name), os.path.join(inp, name))
        log["bursts"].append(t0)
    with open(cfg["log"], "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main(json.load(f))
