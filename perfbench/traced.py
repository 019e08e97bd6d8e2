#!/usr/bin/env python3
"""Commit-ready traced run of one workload, with its tracing overhead.

    python3 perfbench/traced.py --workload om_requests --seed 11 --seconds 20

Runs the workload untraced and then traced with the same seed, and writes
perfbench/results/traced_<workload>.json: the per-layer metrics, self time
per span kind, the layer split per operation kind, fan-out exchanges per
scanned table, both runs' end-to-end
figures, the tracing overhead (traced minus untraced op_p50_ms and pass_s),
the environment and the operation list of the traced run. For om_requests
it also writes results/fanout_ns_du.json: the scan fan-out exchanges that
the registry's ns_du and the public Namespace.du(keys, 3) plan over the
traced run's inputs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{args.workload} trace={trace}: exit {out.returncode}\n"
                 f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    path = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t{trace}", "run.json")
    with open(path) as fh:
        return json.load(fh)


def per_kind(record, args):
    """Layer split per operation kind: means over the timed operations."""
    path = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t1", "spans.json")
    with open(path) as fh:
        spans = json.load(fh)
    timed = {o["seq"]: o for o in record["ops"] if o["phase"] == "timed"}
    rows = {}
    for seq, op in timed.items():
        own = [s for s in spans if s["op"] == seq]
        stages = [s["attrs"] for s in own if s["kind"] == "stage"]
        row = {
            "latency_ms": op["latency_ms"],
            "construct_ms": sum(s["end_ms"] - s["start_ms"] for s in own
                                if s["kind"] == "construct"),
            "construct_jobs": sum(1 for s in own if s["kind"] == "job"
                                  and s["parent"].endswith(".construct")),
            "plan_ms": sum(s["end_ms"] - s["start_ms"] for s in own if s["kind"] == "plan"),
            "jobs": sum(1 for s in own if s["kind"] == "job"),
            "tasks": sum(a.get("tasks", 0) for a in stages),
            "task_busy_ms": sum(a.get("busy_ms", 0) for a in stages),
            "scan_rows": sum(a.get("scan_rows", 0) for a in stages),
            "shuffle_write_bytes": sum(a.get("shuffle_write_bytes", 0) for a in stages),
        }
        rows.setdefault(op["kind"], []).append(row)
    return {kind: {"n": len(rs), **{k: sum(r[k] for r in rs) / len(rs) for k in rs[0]}}
            for kind, rs in sorted(rows.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    e2e = {k: v["value"] for k, v in plain["metrics"].items()}
    layers = traced["layers"]
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "env": traced["env"], "input": traced["input"],
        "per_layer": layers,
        "self_ms": traced["self_ms"],
        "fanout_exchanges_per_op_by_table": traced["plan_fanout"],
        "untraced": e2e,
        "traced": {k: v["value"] for k, v in traced["metrics"].items()},
        "tracing_overhead": {
            "op_p50_ms": layers["trace.op_p50_ms"]["value"] - e2e["op_p50_ms"],
            "pass_s": layers["trace.pass_s"]["value"] - e2e["pass_s"]},
        "check": {"untraced": plain["check"], "traced": traced["check"]},
        "samples": traced["samples"],
        "per_kind": per_kind(traced, args),
        "ops": [{k: o[k] for k in ("seq", "phase", "pass", "kind", "params",
                                   "latency_ms", "construct_ms", "error")}
                for o in traced["ops"]],
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"traced_{args.workload}.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(path, ROOT)}")
    if args.workload == "om_requests":
        fanout_probe(args)


def fanout_probe(args):
    """Plans ns_du and Namespace.du over the traced run's inputs."""
    sys.path.insert(0, HERE)
    import run as bench
    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t1")
    cmd = bench.java_command(os.path.join(HERE, "target", "scala-2.13", "classes"),
                             bench.spark_home(), work, "graftbench.FanoutProbe")
    out = subprocess.run(cmd + [os.path.join(work, "data")], cwd=work,
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"fan-out probe failed:\n{out.stderr[-2000:]}")
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    probe["input"] = f"om_requests seed {args.seed}"
    path = os.path.join(HERE, "results", "fanout_ns_du.json")
    with open(path, "w") as fh:
        json.dump(probe, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
