"""Benchmark of the SCD2 engine on one box: run one workload, check its
outputs, print its metrics.

    python3 perfbench/run.py --workload scd2_daily_merge --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` (output checks)
and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs the workload untraced, then again
with spans around the program's layer functions, and reports the
per-layer metrics. Lines before it starting with ``#`` describe the box
and the individual timings. ``--size tiny`` shrinks the inputs for the
smoke test. See README.md in this directory for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Session, box_info, import_program  # noqa: E402

WORKLOADS = ("scd2_daily_merge", "llm_headline")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            catalog = json.load(fh)
        import_program(root)
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot find the program under {root}: {e}", file=sys.stderr)
        return 2

    import headline
    import scd2_merge

    # a TERM still runs the clean-up below: JVM stopped, run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run = {"scd2_daily_merge": scd2_merge.run, "llm_headline": headline.run}
    sess = Session(root)
    try:
        sess.open(f"perfbench-{args.workload}")
        res = run[args.workload](
            sess, args.seed, args.seconds, bool(args.trace), args.size
        )
    finally:
        sess.close()

    setup_s = sess.start_s + res["setup_s"]
    if args.trace:
        values = {
            "session.start_s": sess.start_s,
            "session.warmup_s": res["warmup_s"],
            **res["per_layer"],
        }
        wanted = catalog["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": res["peak_rss_mb"],
            **res["end_to_end"],
        }
        wanted = catalog["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"workload did not measure {m['name']}")
        # a layer the workload never enters reads 0
        metrics[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}

    checks = res["checks"]
    print(f"# box: {json.dumps(box_info())}")
    reps = [round(x, 3) for x in res.get("setup_reps_s", [])]
    print(
        f"# {args.workload} seed={args.seed} setup_s={setup_s:.3f} "
        f"session_start_s={sess.start_s:.3f} setup_reps_s={reps} "
        f"warmup_s={res['warmup_s']:.3f}"
    )
    print(f"# ops_s: {json.dumps(res['ops'])}")
    for f in checks.failures:
        print(f"# check failed: {f}")
    print(
        json.dumps(
            {
                "correct": not checks.failures,
                "attempted": checks.attempted,
                "failed": len(checks.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
