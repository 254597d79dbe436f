"""Emit bench_samples/rNN_floors.json (VERDICT r16 list #5): per-query
min over a round's committed full-bench samples, so the next round's
cross-round comparison can always run floors-to-floors even if a
driver-side BENCH artifact fails to parse (the BENCH_r15 failure mode).

    python tools/bench_floors.py r17 [sampleA.json ...]

With no explicit sample list, every bench_samples/<round>_sample*.json
is used. 8-core scaling samples (suffix _c8) are excluded by default —
floors must compare like-for-like core counts.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "r17"
    paths = sys.argv[2:] or sorted(
        p for p in glob.glob(os.path.join(REPO, "bench_samples",
                                          f"{rnd}_sample*.json"))
        if "_c8" not in os.path.basename(p))
    if not paths:
        raise SystemExit(f"no samples found for {rnd}")
    floors: dict[str, float] = {}
    noise, io = [], []
    for p in paths:
        with open(p) as fh:
            s = json.load(fh)
        noise.append(s.get("noise_floor_sec"))
        io.append(s.get("io_floor_sec"))
        for k, v in s["queries"].items():
            floors[k] = min(floors.get(k, 1e9), v)
    out = {
        "round": rnd,
        "n_samples": len(paths),
        "samples": [os.path.basename(p) for p in paths],
        "noise_floor_sec": min((n for n in noise if n is not None),
                               default=None),
        "io_floor_sec": min((n for n in io if n is not None), default=None),
        "total_of_floors": round(sum(floors.values()), 3),
        "floors": {k: floors[k] for k in sorted(floors)},
    }
    dest = os.path.join(REPO, "bench_samples", f"{rnd}_floors.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(f"wrote {dest}: {len(floors)} keys, "
          f"sum {out['total_of_floors']}s over {len(paths)} samples")


if __name__ == "__main__":
    main()
