"""Self-tests of the benchmark's own pieces. The Python side covers the
tail-percentile rule, the nightly closed-form oracle, span self time and
result canonicalization; the JVM side (`perfbench.Harness selftest`)
covers call-site attribution, conf-leak detection and the POS model."""
import datetime
import os
import subprocess

import build
import check
import stats

FAILED = []


def expect(what, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        FAILED.append(what)


def test_tail():
    xs = list(range(1, 101))
    expect("100 samples: p90 is the highest percentile with 10 above it",
           stats.tail(xs) == (90, 90, 100))
    p, v, n = stats.tail(list(range(1, 41)))
    expect("40 samples: p75 leaves exactly 10 above", (p, v, n) == (75, 30, 40))
    expect("the rule never goes below the median",
           stats.tail(list(range(1, 13)))[:2] == (50, 6))
    expect("order of samples does not matter",
           stats.tail([5, 1, 4, 2, 3] * 8) == stats.tail(sorted([5, 1, 4, 2, 3] * 8)))


def simulate(seed, stores, nights):
    """The nightly as the reference runs it: each night re-fetch the
    two-day window and upsert latest-wins by id into the mart."""
    mart = {}
    for n in range(1, nights + 1):
        for i in (n - 1, n):
            d = check.D0 + datetime.timedelta(days=i)
            for s in range(stores):
                r = check.fetched(seed, s, d, n)
                if r is not None:
                    mart[r[0]] = r
    return set(mart.values())


def test_oracle():
    for seed, stores, nights in [(1, 120, 6), (9, 60, 2), (5, 80, 1)]:
        expect(f"closed form equals a simulated nightly (seed {seed}, {nights} nights)",
               check.closed_form(seed, stores, nights) == simulate(seed, stores, nights))
    rows = check.closed_form(3, 200, 4)
    expect("error stores land nothing", all(not check.is_error(3, r[1]) for r in rows))
    newest = (check.D0 + datetime.timedelta(days=4)).isoformat()
    expect("only the newest date is unrevised",
           all((r[3] - check.base(3, r[1], check.epoch_day(datetime.date.fromisoformat(r[2]))))
               == (0 if r[2] == newest else 100) for r in rows))
    expect("POS model matches the JVM's reference values",
           check.mix(1, 2, 3) == -3426316478316322125 and check.base(42, 17, 19905) == 311)


def test_self_time():
    expect("overlapping children are counted once",
           stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4)
    expect("children are clipped to the span",
           stats.union_length([(-1, 1), (9, 12)], 0, 10) == 2)
    spans = [{"id": 1, "parent": 0, "name": "op", "op": "a", "start": 0.0, "end": 10.0},
             {"id": 2, "parent": 1, "name": "queries.build", "op": "a", "start": 0.0, "end": 2.0},
             {"id": 3, "parent": 1, "name": "engine.exec", "op": "a", "start": 3.0, "end": 9.0},
             {"id": 4, "parent": 3, "name": "plans.plan", "op": "a", "start": 3.0, "end": 3.5}]
    jobs = {"a": [{"start": 4.0, "end": 6.0}, {"start": 5.0, "end": 8.0}]}
    st = stats.self_times(spans, jobs)
    expect("self time = duration minus what child spans and jobs cover",
           st == {"op": 2.0, "queries.build": 2.0, "engine.exec": 1.5, "plans.plan": 0.5})


def test_canonical():
    import pyarrow as pa
    a = pa.table({"x": [2, 1], "y": [0.1 + 0.2, 1.0]})
    b = pa.table({"y": [1.0, 0.3], "x": [1, 2]})
    expect("row order, column order and float noise do not matter",
           check.canonical(a) == check.canonical(b))
    expect("a changed value does not compare equal",
           check.canonical(a) != check.canonical(pa.table({"x": [2, 1], "y": [0.3, 1.5]})))


def main(root, out):
    test_tail()
    test_oracle()
    test_self_time()
    test_canonical()
    classes, jars = build.build(root, out)
    rc = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                         "perfbench.Harness", "selftest"]).returncode
    if rc != 0:
        FAILED.append("jvm selftest")
    print("selftest: all passed" if not FAILED else f"selftest: {len(FAILED)} failed")
    return 0 if not FAILED else 1
