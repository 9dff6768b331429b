"""The ticks_live load generator: a separate process that lands tick
files into the watched directory on the seeded Poisson schedule.

It builds every file's table before the schedule starts, then sleeps
until each due time, writes the file into a staging directory and
renames it into place, so the stream never sees a partial file. The
schedule does not slow when the system under test slows (open loop).
On exit it writes a manifest of each file's landing time; the due time
is in the file's name.

    python3 -m perfbench.lander --seed 1 --seconds 10 --t0 <epoch> \
        --traffic '<gen.Traffic as JSON>' --out DIR --stage DIR --manifest FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time

from perfbench import gen


def land(files: list[gen.TickFile], t0: float, out: str, stage: str) -> list[dict]:
    os.makedirs(stage, exist_ok=True)
    landed = []
    for f in files:
        delay = t0 + f.due_s - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(stage, f.name)
        gen.write_table(f.table, tmp)
        os.rename(tmp, os.path.join(out, f.name))
        landed.append({"name": f.name, "landed": time.time()})
    return landed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench.lander")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--traffic", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--manifest", required=True)
    args = ap.parse_args(argv)
    files = gen.live_schedule(args.seed, gen.Traffic(**json.loads(args.traffic)), args.seconds)
    landed = land(files, args.t0, args.out, args.stage)
    with open(args.manifest + ".tmp", "w") as fh:
        json.dump(landed, fh)
    os.rename(args.manifest + ".tmp", args.manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
