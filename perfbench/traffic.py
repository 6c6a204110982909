#!/usr/bin/env python3
"""Where the op time of a traced run goes, per group of ops.

Reads one or more ``--detail`` records of traced runs (``run.py ... --trace 1
--detail FILE``) and prints, for each group of ops, a markdown table row:
how many ops, their summed wall time, the median op, and what share of the
wall time went to Catalyst planning (analysis + optimization + planning), to
driver gaps (no job of the op running), to jobs, and to executor tasks
(task time over wall time x cores). Only traced passes count.

A record of the ``all`` workload is split three ways: by the three families
the workloads are cut from, by entry-name prefix, and into the ops each
workload of ``workloads.json`` runs. A record of another workload gives one
row for its ops.

    python3 perfbench/traffic.py all.json timedf_ref.json pipeline_ingest.json
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

FAMILIES = {
    "timedf_ref": ("harness:", "q", "dq_", "feat_", "gov_", "sketch_", "layout_",
                   "link_", "ml_"),
    "pipeline_batch": ("dedup_", "graph_", "text_", "tok_", "emb_", "ann_", "mm_",
                       "search_", "doc_", "pipeline_"),
    "ingest_write": ("stream_", "lake_"),
}


def family(op):
    """The family an op belongs to: the first whose prefix it has."""
    short = op.split(":", 1)[1] if op.startswith("entry:") else op
    for fam, prefixes in FAMILIES.items():
        if any(short.startswith(p) if p != "q" else re.match(r"q\d", short)
               for p in prefixes):
            return fam
    return "other"


def prefix(op):
    if op.startswith("harness:"):
        return op
    short = op.split(":", 1)[1]
    return "q" if re.match(r"q\d", short) else short.split("_", 1)[0] + "_"


def ops_of(detail):
    """(name, wall_s, layers) of every passing op in the traced passes."""
    for p in detail["raw"]["passes"]:
        if p["traced"]:
            for o in p["ops"]:
                if o.get("ok"):
                    yield o["name"], o["wall_s"], o.get("layers", {})


def row(label, samples, cores, passes):
    wall = sum(w for _, w, _ in samples)

    def share(*keys):
        return 100.0 * sum(l.get(k, 0.0) for _, _, l in samples for k in keys) / wall

    tasks = share("exec.task_s") / cores
    jobs = sum(l.get("sched.jobs", 0.0) for _, _, l in samples) / len(samples)
    return (f"| {label} | {len(samples) // passes} | {wall / passes:.1f} "
            f"| {statistics.median(w for _, w, _ in samples):.2f} "
            f"| {share('plans.analysis_s', 'plans.optimization_s', 'plans.planning_s'):.0f}% "
            f"| {share('sched.driver_gap_s'):.0f}% | {share('sched.busy_s'):.0f}% "
            f"| {tasks:.0f}% | {jobs:.1f} |")


def main(paths):
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    print("| ops | n | wall s | median op s | plans | driver gap | jobs running "
          "| exec tasks | jobs per op |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for path in paths:
        with open(path) as fh:
            detail = json.load(fh)
        cores = detail["raw"]["cores"]
        passes = sum(1 for p in detail["raw"]["passes"] if p["traced"])
        samples = list(ops_of(detail))
        name = detail["workload"]
        if name != "all":
            print(row(f"`{name}` run", samples, cores, passes))
            continue
        groups = {}
        for s in samples:
            groups.setdefault(f"family `{family(s[0])}`", []).append(s)
        for w, spec in workloads.items():
            groups[f"`{w}` ops, in `all`"] = [s for s in samples if s[0] in spec["ops"]]
        for s in samples:
            groups.setdefault(f"prefix `{prefix(s[0])}`", []).append(s)
        for label, g in groups.items():
            if g:
                print(row(label, g, cores, passes))


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
