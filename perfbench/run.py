"""Repository benchmark: three seeded workloads over the engagement engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_stream`` (live outbox stream, open loop, then sink
reads beside writes from one closed-loop client) and ``corpus_ops``
(passes over oracle-backed registry queries, one client).
``--workload all`` runs both in turn, each in its own process.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines above it list every workload-specific metric by
name and unit. A traced run also writes its spans and a per-layer
self-time report under ``.perfbench_out/``. The exit code is 0 only when
every output check passed.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("ingest_stream", "corpus_ops")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] task slots (the recorded reference uses 1)")
    args = ap.parse_args()

    if args.workload == "all":
        code = 0
        for w in WORKLOADS:
            argv = [sys.executable, os.path.abspath(__file__), "--workload", w,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--cores", str(args.cores)]
            code |= subprocess.run(argv, check=False).returncode
        return code

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "realtimedatapipeline_8_project_spark")):
        print("perfbench: run from the repository root (engine package not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["TZ"] = "UTC"  # collected timestamps compare as naive UTC
    time.tzset()

    from common import Run

    r = Run(args, T_PROCESS_START)
    try:
        if args.workload == "ingest_stream":
            import ingest_stream as wl
        else:
            import corpus_ops as wl
        headline = wl.run(r)
        return r.finish(headline)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        r.close()


if __name__ == "__main__":
    sys.exit(main())
