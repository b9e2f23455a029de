"""spark-sense benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads and metrics are declared in
BENCHMARK.json at the root; see the workload modules for what each does:
`sensor_queries` and `corpus_queries` in query_workloads.py,
`ingest_stream` in ingest.py.

With --trace 0 the last line of standard output is one JSON object with
every end-to-end metric; with --trace 1 it carries every per-layer metric
instead, from a separate traced run (Spark job groups, the status tracker
and status store, executed plans, stream progress reports and direct
calls into each layer). A traced run also writes its spans to
perfbench/traces/<run id>.json. A per-layer metric of a layer that the
workload does not run reads 0.

The program is timed only from outside, through calls to its public
functions. The benchmark exits non-zero without a result line when it
cannot run, and reports failed or wrong-result operations in `failed`.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT,
    Sandbox,
    Tracer,
    adopt_orphans,
    host_probe,
    peak_rss_mb,
    result,
    stop_all,
)

WORKLOADS = ("sensor_queries", "corpus_queries", "ingest_stream")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        raise SystemExit("BENCHMARK.json workloads do not match the benchmark's")
    return spec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    spec = _declared()
    sys.path.insert(0, ROOT)
    import mysense_spark  # noqa: F401  (fail before any set-up when absent)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    tracer = Tracer(run_id) if args.trace else None
    # every way out, a SIGTERM included, passes through stop_all, which
    # waits for the JVM and every Python worker to end
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with Sandbox(args.workload) as sb:
        try:
            if args.workload == "ingest_stream":
                import ingest

                res = ingest.run(sb, args.seed, args.seconds, tracer, host_probe)
            else:
                import query_workloads

                res = query_workloads.run(args.workload, args.seed, args.seconds, tracer, host_probe)
            rss = peak_rss_mb(res["spark"])
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_IGN)
            stop_all()
    if res["e2e"] is None:
        print("# no operation completed", file=sys.stderr)
        return 1
    print(f"# host.probe_s before={res['probes'][0]} after={res['probes'][-1]}", file=sys.stderr)

    if args.trace:
        layers = {m["name"]: (0, m["unit"]) for m in spec["per_layer"]}
        measured = {
            **res["layers"],
            "host.probe_s": max(res["probes"]),
            "proc.peak_rss_mb": rss,
            "trace.overhead_s": tracer.overhead_s,
        }
        unknown = sorted(set(measured) - set(layers))
        if unknown:
            raise SystemExit(f"metrics missing from BENCHMARK.json: {unknown}")
        for k, v in measured.items():
            layers[k] = (v, layers[k][1])
        tracer.write({"workload": args.workload, "seed": args.seed, "probes": res["probes"],
                      "setup": res["setup"], **res.get("record", {})})
        metrics = layers
    else:
        metrics = {m["name"]: (res["e2e"][m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(result(res["failed"] == 0, res["attempted"], res["failed"], metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
