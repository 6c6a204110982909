#!/usr/bin/env python3
"""Self-test of the benchmark's checks, without a JVM.

Plants wrong results in a made-up raw run and asserts that each is counted
as failed, named, and kept out of every timing. Run: python3 perfbench/selftest.py
"""
import copy
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

EXPECTED = {
    "entry:a": {"rows": 3, "digest": "aa"},
    "entry:b": {"rows": 5, "digest": "bb"},
    "harness:h": {"params": {"validation_Q1": "1", "validation_Q2": "2"},
                  "base_seed_only": {"validation_Q2": "unrounded floats"}},
}


def entry(name, wall, rows, digest=None):
    """An entry record; the warm-up pass digests, measured passes count."""
    op = {"name": name, "ok": True, "wall_s": wall, "build_s": 0.1,
          "count": rows}
    if digest:
        op.update(rows=rows, digest=digest)
    return op


def harness(q1=None, q2=None):
    op = {"name": "harness:h", "ok": True, "wall_s": 3.0,
          "stages": {"total": 2.9, "total.load": 1.0, "total.Q1": 0.75,
                     "total.Q2": 0.5},
          "params": {"backend": "spark"}}
    if q1:
        op["params"].update(validation_Q1=q1, validation_Q2=q2)
    return op


def good_pass(warmup=False):
    if warmup:
        return {"warmup": True, "traced": False, "ops": [
            entry("entry:a", 1.0, 3, "aa"), entry("entry:b", 2.0, 5, "bb"),
            harness("1", "2")]}
    return {"warmup": False, "traced": False, "ops": [
        entry("entry:a", 1.0, 3), entry("entry:b", 2.0, 5), harness()]}


def raw(passes):
    return {"cores": 4, "vm_hwm_kb": 1024 * 1000,
            "setups": [{"setup_s": 9.0}, {"setup_s": 1.0}, {"setup_s": 1.2}],
            "passes": passes}


def check(res, seed=run.BASE_SEED):
    e2e, _, _, attempted, failed, failures = run.summarize(res, EXPECTED, seed, 0)
    return e2e, attempted, failed, failures


def main():
    clean = raw([good_pass(True), good_pass(), good_pass()])
    e2e, attempted, failed, failures = check(clean)
    assert (attempted, failed, failures) == (15, 0, {}), (attempted, failed)
    assert e2e["wall_s"] == 1.0 + 2.0 + 1.0 + 0.75 + 0.5, e2e
    assert e2e["setup_s"] == 9.0, e2e  # the cold set-up from JVM start

    # a perturbed digest in the warm-up pass, a wrong row count and an op
    # that threw in the measured passes
    bad = copy.deepcopy(clean)
    bad["passes"][0]["ops"][0]["digest"] = "ab"
    bad["passes"][1]["ops"][1]["count"] = 6
    bad["passes"][2]["ops"][0] = {"name": "entry:a", "ok": False,
                                  "error": "java.lang.RuntimeException: boom"}
    e2e, attempted, failed, failures = check(bad)
    assert (attempted, failed) == (15, 3), (attempted, failed)
    assert set(failures) == {"entry:a", "entry:b"}, failures
    assert "digest=ab" in failures["entry:a"], failures
    # each measured pass keeps only its passing samples
    assert e2e["wall_s"] == statistics.median([1.0 + 2.25, 2.0 + 2.25]), e2e
    assert e2e["op_p50_s"] == statistics.median(
        [1.0, 1.0, 0.75, 0.5, 2.0, 1.0, 0.75, 0.5]), e2e

    # a harness validation digest that differs is a failure at the base seed
    h = copy.deepcopy(clean)
    h["passes"][0]["ops"][2] = harness("1", "3")
    assert check(h)[2] == 1 and "harness:h" in check(h)[3]
    # ... but a base-seed-only value is not compared at another seed
    assert check(h, seed=7)[2] == 0
    h["passes"][0]["ops"][2] = harness("9", "2")
    assert check(h, seed=7)[2] == 1

    # a model-quality value is checked in every pass, within the tolerance
    q = copy.deepcopy(clean)
    expected = dict(EXPECTED, **{"harness:m": {"params": {"test_mse": "2.0"}}})
    q["passes"][2]["ops"].append({"name": "harness:m", "ok": True, "wall_s": 1.0,
                                  "stages": {"total": 1.0},
                                  "params": {"test_mse": "2.4"}})
    assert run.summarize(q, expected, 7, 0)[4] == 0
    q["passes"][2]["ops"][-1]["params"]["test_mse"] = "3.0"
    assert run.summarize(q, expected, 7, 0)[5] == {
        "harness:m": "test_mse=3.0, expected 2.0"}

    # the tail is the highest percentile with ten samples beyond it
    assert run.tail(list(range(1, 41))) == (30, 75, 40)
    assert run.tail([1.0, 2.0]) == (2.0, 100, 2)
    print("selftest: ok")


if __name__ == "__main__":
    main()
