"""Self-test of the benchmark: the DuckDB compare rules here, then the
JVM self-test (graft.perfbench.SelfTest) of order statistics, span self
time, listener accumulation and the JVM-side output checks.

Run with: python3 perfbench/run.py --selftest
"""
import os

import pandas as pd

import oracle


def python_checks():
    base = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", None]})
    cases = [
        ("identical frames agree", base.copy(), True),
        ("column order does not matter", base[["s", "v", "k"]].copy(), True),
        ("a float within 1e-9 relative agrees",
         base.assign(v=[0.5, 1.25 * (1 + 1e-12), 2.0]), True),
        ("a changed float is rejected", base.assign(v=[0.5, 1.26, 2.0]), False),
        ("a changed key is rejected", base.assign(k=[1, 2, 4]), False),
        ("a moved null is rejected", base.assign(s=["a", None, "c"]), False),
        ("a dropped row is rejected", base.iloc[:2].copy(), False),
        ("a renamed column is rejected", base.rename(columns={"v": "w"}), False),
        ("swapped rows are rejected", base.iloc[[1, 0, 2]].copy(), False),
    ]
    failed = []
    for name, mine, want in cases:
        if (oracle.compare(mine, base) is None) != want:
            failed.append(name)
    empty = base.iloc[:0]
    if oracle.compare(empty, empty) is None:
        failed.append("an empty result is rejected")
    return len(cases) + 1 - len(failed), failed


def main(cp, java_cmd, run_jvm, work):
    ok, failed = python_checks()
    print(f"python selftest: {ok} passed, {len(failed)} failed")
    for f in failed:
        print(f"FAILED {f}")
    log = os.path.join(work, "selftest.log")
    rc = run_jvm(java_cmd(cp, "graft.perfbench.SelfTest", [], heap="1g"), log, 170)
    with open(log) as f:
        print("".join(l for l in f if not l.startswith("[") and " WARN " not in l), end="")
    return 0 if rc == 0 and not failed else 1
