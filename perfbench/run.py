#!/usr/bin/env python3
"""The repository benchmark: one workload, one JVM, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload timedf_ref --seed 42 --seconds 10 --trace 0

It builds the program and this benchmark from source on first use, writes
the seeded inputs, runs the workload's ops in a closed loop (a checked
warm-up pass, a fixed number of measured passes, then bare set-ups until
``--seconds`` have passed), checks every op's output against
``expected.json`` and prints the metrics by name with their units. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.

Everything it writes goes under ``--work`` (default ``.bench_build/perfbench``
in the checkout). ``--detail PATH`` also writes the per-op record to PATH.
``--record`` runs every entry and the paper's three harness benchmarks once
at seed 42 and rewrites ``expected.json``; the entries' outputs land under
``<work>/record`` for a DuckDB comparison with ``tools/check.py``.
``--workload all --trace 1 --detail PATH`` adds one traced pass over every
op, which ``traffic.py`` breaks down by family. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
BASE_SEED = 42
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 720
# a harness quality metric (a model's test loss) may move this much with the
# row layout, since sampling and tree training see the rows in another order
QUALITY_TOLERANCE = 0.25
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build ----

def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(work):
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE}: nothing to build")
    out = os.path.join(work, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark")
    with open(os.path.join(out, "sbt.log"), "w") as lg:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lg, text=True,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(want)
    return lines[-1]


# ----------------------------------------------------------------- data ----

def inputs(work, seed):
    """The fixture tables for `seed`: the committed rows at the base seed,
    else the same rows in a seeded order (one permutation per table)."""
    d = os.path.join(work, "data", f"seed_{seed}")
    if os.path.isfile(os.path.join(d, ".done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    tables = sorted(f for f in os.listdir(FIXTURES) if f.endswith(".parquet"))
    if seed == BASE_SEED:
        for f in tables:
            shutil.copyfile(os.path.join(FIXTURES, f), os.path.join(d, f))
    else:
        import numpy as np
        import pyarrow.parquet as pq
        for i, f in enumerate(tables):
            t = pq.read_table(os.path.join(FIXTURES, f))
            perm = np.random.default_rng([seed, i]).permutation(t.num_rows)
            pq.write_table(t.take(perm), os.path.join(d, f), compression="snappy")
    open(os.path.join(d, ".done"), "w").close()
    return d


# ------------------------------------------------------------------ run ----

def run_jvm(classpath, work, data, ops, seconds, trace, deadline, passes=None,
            record=None):
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ops_file = os.path.join(work, "ops.txt")
    with open(ops_file, "w") as fh:
        fh.write("\n".join(ops) + "\n")
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    # the throughput collector has no concurrent GC threads to compete with
    # the task threads for the cores, which halved the run-to-run spread
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}/spark-local",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--data", data,
            "--ops", ops_file, "--seconds", str(seconds), "--trace", str(trace),
            "--result", result]
    if passes is not None:
        cmd += ["--passes", str(passes)]
    if record:
        cmd += ["--record", record]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lg:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=lg, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit; see {log_path}")
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isfile(result):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {code}")
    with open(result) as fh:
        return json.load(fh)


# --------------------------------------------------------------- checks ----

def samples(op, expected, seed, full):
    """The timed samples of one op record as (name, seconds, ok, why).

    An entry is one sample: its row count must match, and in the `full`
    (warm-up) pass, which digests the result, the digest too. A harness
    benchmark gives one sample per leaf stage it reports. Its model-quality
    values must match within QUALITY_TOLERANCE, and in the `full` pass,
    which runs it with validation, its validation digests must match
    exactly. A failed check fails the benchmark as one sample. A value
    listed under `base_seed_only` hashes unrounded floats, so it is
    compared at the base seed only."""
    name, exp = op["name"], expected.get(op["name"])
    why = None
    if not op.get("ok"):
        why = op.get("error", "failed")
    elif exp is None:
        why = "no expected value recorded"
    elif name.startswith("entry:"):
        got = (op["count"], op.get("rows", exp["rows"]), op.get("digest", exp["digest"]))
        if got != (exp["rows"], exp["rows"], exp["digest"]):
            why = (f"count={got[0]} rows={got[1]} digest={got[2]}, "
                   f"expected rows={exp['rows']} digest={exp['digest']}")
    else:
        for k, v in exp["params"].items():
            validation = k.startswith("validation_")
            if (validation and not full) or \
                    (seed != BASE_SEED and k in exp.get("base_seed_only", {})):
                continue
            got = op["params"].get(k)
            if validation:
                bad = got != v
            else:
                bad = got is None or abs(float(got) - float(v)) > \
                    QUALITY_TOLERANCE * abs(float(v))
            if bad:
                why = f"{k}={got}, expected {v}"
                break
    if name.startswith("entry:"):
        return [(name, op.get("wall_s", 0.0), why is None, why)]
    stages = op.get("stages") or {"total": op.get("wall_s", 0.0)}
    leaves = [k for k in stages if not any(o.startswith(k + ".") for o in stages)]
    bench = name.split(":", 1)[1]
    return [(f"{name}/{k.split('.', 1)[-1]}", stages[k], why is None, why)
            for k in sorted(leaves)] if why is None else \
        [(f"harness:{bench}", op.get("wall_s", 0.0), False, why)]


def tail(values):
    """The highest percentile with at least ten samples beyond it."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100, len(v)
    k = len(v) - 11
    return v[k], int(100 * (k + 1) / len(v)), len(v)


def summarize(res, expected, seed, trace):
    """Metrics, failures and per-pass sample lists from the raw result."""
    checked = []
    failures = {}
    for p in res["passes"]:
        rows = []
        for op in p["ops"]:
            for s in samples(op, expected, seed, p["warmup"]):
                rows.append(s)
                if not s[2]:
                    failures.setdefault(s[0], s[3])
        checked.append(rows)
    attempted = sum(len(r) for r in checked)
    failed = sum(1 for r in checked for s in r if not s[2])
    # the warm-up pass is checked but not timed, unless it is the only one
    timed = [i for i, p in enumerate(res["passes"]) if not p["warmup"]] \
        or list(range(len(checked)))
    passes = [checked[i] for i in timed]
    good = [s[1] for r in passes for s in r if s[2]]
    walls = [sum(s[1] for s in r if s[2]) for r in passes]
    t_value, t_pct, n = tail(good) if good else (0.0, 0, 0)
    e2e = {
        "setup_s": res["setups"][0]["setup_s"],
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(good) if good else 0.0,
        "op_tail_s": t_value,
    }
    notes = {
        "setup_s": "cold: from JVM start to the first op",
        "wall_s": f"median over {len(walls)} timed passes of {len(passes[0])} ops",
        "op_p50_s": f"n={len(good)}",
        "op_tail_s": f"p{t_pct}, n={n}",
    }
    layers = per_layer(res, dict(zip(timed, walls))) if trace else {}
    return e2e, notes, layers, attempted, failed, failures


def per_layer(res, walls):
    """Medians over the traced passes of each layer's pass totals. `walls`
    maps the index of each timed pass to its wall time."""
    traced = [p for p in res["passes"] if p["traced"]]
    keys = set()
    for p in traced:
        keys |= set(p["layers"])

    def med(f):
        return statistics.median([f(p) for p in traced])

    out = {k: med(lambda p, k=k: p["layers"].get(k, 0.0)) for k in keys}
    cores = res["cores"]

    def ratio(p, a, b):
        den = p["layers"].get(b, 0.0)
        return p["layers"].get(a, 0.0) / den if den else 0.0

    out["sched.stages_skipped_ratio"] = med(
        lambda p: ratio(p, "sched.stages_skipped", "sched.stages_all"))
    out["exec.core_util"] = med(
        lambda p: ratio(p, "exec.task_s", "sched.busy_s") / cores)
    out["write.amp"] = med(lambda p: ratio(p, "write.mb", "sources.input_mb"))
    for k in ("sched.stages_skipped", "sched.stages_all", "sched.busy_s"):
        out.pop(k, None)
    out["peak_rss_mb"] = res["vm_hwm_kb"] / 1024.0
    for k in ("build_s", "warmup_s"):
        out[f"session.{k}"] = statistics.median([s[k] for s in res["setups"]])
    out["operators.build_s"] = med(lambda p: sum(
        o.get("build_s", 0.0) for o in p["ops"] if o["name"].startswith("entry:")))
    stages = {}
    for p in res["passes"]:
        if p["warmup"]:
            continue
        for o in p["ops"]:
            if o["name"].startswith("harness:") and o.get("ok"):
                bench = o["name"].split(":", 1)[1]
                for k, v in o["stages"].items():
                    stages.setdefault(f"harness.{bench}.{k.split('.', 1)[-1]}_s", []).append(v)
    out.update({k: statistics.median(v) for k, v in stages.items()})
    # traced passes against the untraced timed passes between them
    t = [w for i, w in walls.items() if res["passes"][i]["traced"]]
    u = [w for i, w in walls.items() if not res["passes"][i]["traced"]]
    out["trace.overhead_s"] = statistics.median(t) - statistics.median(u) if t and u else 0.0
    return out


# ----------------------------------------------------------------- main ----

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=BASE_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_build", "perfbench"))
    ap.add_argument("--detail", default=None)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(FIXTURES) and os.path.isfile(WORKLOADS)
            and os.path.isfile(spec_path)):
        fail("benchmark files missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    with open(WORKLOADS) as fh:
        workloads = json.load(fh)
    expected = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    if a.workload == "all":
        ops = sorted(expected)
    elif a.workload in workloads:
        ops = workloads[a.workload]["ops"]
    else:
        fail(f"unknown workload {a.workload}; known: all, {', '.join(workloads)}")
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    work = os.path.abspath(a.work)
    os.makedirs(work, exist_ok=True)
    classpath = build(work)
    start = max(start, time.time() - 5)  # a build does not count against the run
    if a.record:
        return record(classpath, work, inputs(work, BASE_SEED))
    data = inputs(work, a.seed)
    everything = a.workload == "all"
    # `all` makes one checked pass, and one traced pass after it when traced
    res = run_jvm(classpath, work, data, ops, 0 if everything else a.seconds,
                  a.trace, start + (3600 if everything else RUN_LIMIT_S),
                  passes=a.trace if everything else None)
    e2e, notes, layers, attempted, failed, failures = summarize(
        res, expected, a.seed, a.trace)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={res['cores']} passes={len(res['passes'])}")
    for m in spec["end_to_end"]:
        k = m["name"]
        print(f"  {k:<14} {e2e[k]:12.4f} {m['unit']:<3} ({notes[k]})")
    print(f"  {'fail_ratio':<14} {failed / max(attempted, 1):12.4f}     "
          f"({failed} of {attempted} op samples failed)")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    if a.trace:
        for m in spec["per_layer"]:
            print(f"  {m['name']:<34} {layers.get(m['name'], 0.0):14.4f} {m['unit']}")
    if a.detail:
        with open(a.detail, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "end_to_end": e2e, "per_layer": layers,
                       "failures": failures, "raw": res}, fh, indent=1)
    values = layers if a.trace else e2e
    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def record(classpath, work, data):
    """Run every entry and the paper's three harness benchmarks once at the
    base seed and store each op's checked values in expected.json."""
    ops = [f"entry:{n}" for n in entry_names(classpath, work)]
    ops += ["harness:ny_taxi", "harness:ny_taxi_ml", "harness:plasticc"]
    out = os.path.join(work, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(classpath, work, data, ops, 0, 0, time.time() + 3600,
                  passes=0, record=out)
    exp = {}
    kept = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            kept = {k: v["base_seed_only"] for k, v in json.load(fh).items()
                    if "base_seed_only" in v}
    for op in res["passes"][0]["ops"]:
        if not op.get("ok"):
            log(f"{op['name']} failed: {op.get('error')}")
        elif op["name"].startswith("entry:"):
            exp[op["name"]] = {"rows": op["rows"], "digest": op["digest"]}
        else:
            exp[op["name"]] = {"params": {k: v for k, v in op["params"].items()
                                          if k.startswith("validation_") or k in
                                          ("test_mse", "weighted_logloss")}}
            if op["name"] in kept:
                exp[op["name"]]["base_seed_only"] = kept[op["name"]]
    with open(EXPECTED, "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(exp)} ops; entry outputs under {out}")


def entry_names(classpath, work):
    """Every SparkEntry.queries name, listed by the program itself."""
    p = subprocess.run(["java", "-cp", classpath, "perfbench.ListEntries"],
                       stdout=subprocess.PIPE, text=True, check=True, cwd=work)
    return sorted(n for n in p.stdout.split() if n)


if __name__ == "__main__":
    main()
