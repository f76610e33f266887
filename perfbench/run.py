#!/usr/bin/env python3
"""Layered benchmark of the inverted-index + BM25 engine.

    python3 perfbench/run.py --workload <bulk_build|topk_stream> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. One client, closed loop: each request is a
blocking call from the Spark driver, and the next one starts when it
returns. The workload's inputs are generated from ``--seed``; the engine
sees only those inputs. Results are checked against a brute-force pandas
oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans at every call into an engine module, with Spark job, stage
and task counts per span). The last line of stdout is the result object;
the line before it carries host state and sample details. Everything the
run writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from common import ROOT, WORK, CORES, setup_env, start_session, stop_session


def declared(values: dict, kind: str) -> dict:
    """Every metric BENCHMARK.json declares under ``kind``, in its unit. A
    per-layer metric the workload does not exercise reads 0 (no work done
    in that layer); an undeclared metric or unit mismatch is a bug here."""
    spec = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]}
    extra = set(values) - set(spec)
    if extra:
        raise KeyError(f"undeclared {kind} metrics: {sorted(extra)}")
    out = {}
    for name, unit in spec.items():
        if name in values:
            value, got = values[name]
            if got != unit:
                raise ValueError(f"{name}: unit {got!r}, declared {unit!r}")
        elif kind == "per_layer":
            value = 0
        else:
            raise KeyError(f"end-to-end metric {name} not measured")
        out[name] = {"value": value, "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_build", "topk_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    setup_env()
    import bitcoin_ledger_2es_spark  # noqa: F401  (fail fast without the engine)

    from host import host_state

    host = host_state(ROOT)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark, session_s = start_session()
    try:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        if args.workload == "bulk_build":
            from bulk import run as run_workload
        else:
            from search import run as run_workload
        res = run_workload(spark, tracer, args, run_dir, session_s)
        if args.trace:
            tracer.count_spans()
            tracer.write(run_dir.parent / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    host["spark_cores"] = CORES
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host,
                      "detail": res["detail"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": declared(res["layers"] if args.trace else res["e2e"],
                            "per_layer" if args.trace else "end_to_end"),
    }))
    for e in res["errors"]:
        print(e, file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
