"""Pin the curate_chain survivors (count and sorted-id digest) per seed
into ``pins.json``, which ``w_curate.check_output`` compares against.

    python3 perfbench/pin_curate.py --seeds 1-30 [--size full]

Run it on the commit whose output defines "correct"; a later commit that
changes the survivors of a pinned seed then fails the output check.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import harness as H  # noqa: E402
import w_curate  # noqa: E402
from spread import seeds  # noqa: E402

sys.path.insert(0, str(H.ROOT))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-30")
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    from webextract.functions.curate import curate_full

    pins = (json.loads(w_curate.PINS.read_text())
            if w_curate.PINS.exists() else {})
    spark = H.spark_session("perfbench-pin")
    for seed in seeds(args.seeds):
        info = gen.curate_input(H.WORK, seed, w_curate.SIZES[args.size])
        out = str(H.WORK / "runs" / f"pin-{seed}")
        curate_full(*w_curate._read(spark, info)).write \
            .mode("overwrite").parquet(out)
        count, digest, _ = w_curate.survivors(spark, out)
        pins.setdefault(args.size, {})[str(seed)] = {"count": count,
                                                     "digest": digest}
        print(seed, count, digest, flush=True)
    spark.stop()
    w_curate.PINS.write_text(json.dumps(pins, indent=1, sort_keys=True)
                             + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
