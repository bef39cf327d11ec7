#!/usr/bin/env python3
"""Checker self-test: every lane's checker must accept a correct output and
reject each deliberately corrupted one, and the generated inputs must hash
the same for the same seed and differently for another. No daemon runs.

    python3 kbench/selftest.py        # exit code 0 only if every check holds
"""
import copy
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import daemon_lanes as dl  # noqa: E402

BASE, PREP_BASE = 1800000000, 1799999970


def store_with(exp, inp, root, drop=None, bump_level1=False):
    """A store holding exactly `exp` in level 0 and its cascade in level 1,
    optionally with one point dropped or one level-1 slot changed."""
    rows = {s: [] for s in ("bench_sum", "bench_avg")}
    for (m, t), v in exp.items():
        if (m, t) != drop:
            rows["bench_sum" if ".sum." in m else "bench_avg"].append((m, t, v))
    tables = {(s, "level_0"): r for s, r in rows.items()}
    for s, r in rows.items():
        windows = {}
        for m, t, v in r:
            windows.setdefault((m, t - t % 10), []).append(v)
        l1 = [(m, t, sum(vs) if s == "bench_sum" else sum(vs) / len(vs))
              for (m, t), vs in sorted(windows.items()) if len(vs) == 10]
        if bump_level1 and s == "bench_sum":
            m, t, v = l1[0]
            l1[0] = (m, t, v + 1.0)
        tables[(s, "level_1")] = l1
    shutil.rmtree(root, ignore_errors=True)
    dl.preload_store(root, [(m, "bench_sum" if ".sum." in m else "bench_avg") for m in inp.SERIES],
                     tables, BASE)
    return dl.ingest_store_checks(dl.duck(), root, exp, inp)["checks_ok"]


def main():
    failures = []

    def expect(name, cond):
        print(("ok   " if cond else "FAIL ") + name)
        if not cond:
            failures.append(name)

    tmp = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(os.path.abspath(__file__))))
    try:
        # input determinism
        expect("ingest input: same seed, same hash", dl.IngestInput(1).hash == dl.IngestInput(1).hash)
        expect("ingest input: other seed, other hash", dl.IngestInput(1).hash != dl.IngestInput(2).hash)
        expect("dashboard input: same seed, same hash", dl.DashInput(1).hash == dl.DashInput(1).hash)
        expect("dashboard input: other seed, other hash", dl.DashInput(1).hash != dl.DashInput(2).hash)

        # ingest_catchup: the store check
        inp = dl.IngestInput(1)
        exp = inp.expected(BASE, PREP_BASE)
        root = os.path.join(tmp, "store")
        expect("ingest store check accepts the correct store", store_with(exp, inp, root))
        victim = sorted(exp)[len(exp) // 2]
        expect("ingest store check rejects one dropped point", not store_with(exp, inp, root, drop=victim))
        expect("ingest store check rejects one changed level-1 slot",
               not store_with(exp, inp, root, bump_level1=True))
        # ingest_catchup: the HTTP read-back check
        m = inp.SERIES[0]
        want = {t: exp.get((m, t)) for t in range(BASE - 2600, BASE + 1)}
        got = [[t, v] for t, v in sorted(want.items())]
        expect("ingest read check accepts the correct series", dl.first_diff(got, want) is None)
        dropped = [[t, None] if t == BASE - 1000 else [t, v] for t, v in got]
        expect("ingest read check rejects one dropped point", dl.first_diff(dropped, want) is not None)

        # dashboard_mixed: every request of a round
        dash = dl.DashInput(1)
        for req in dash.requests(BASE):
            want = dash.expected(req, BASE)
            if req[0] == "fetch":
                good = {"datapoints": [[t, v] for t, v in sorted(want[0][1].items())]}
            else:
                good = [{"target": name or "x", "datapoints": [[t, v] for t, v in sorted(pts.items())]}
                        for name, pts in want]
            expect(f"dashboard check accepts {req[1]}", dl.response_diff(req[0], good, want) is None)
            bad = copy.deepcopy(good)
            pts = bad["datapoints"] if req[0] == "fetch" else bad[0]["datapoints"]
            i = next(i for i, (_, v) in enumerate(pts) if v is not None)
            pts[i][1] += 0.5
            expect(f"dashboard check rejects one changed value in {req[1]}",
                   dl.response_diff(req[0], bad, want) is not None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("RESULT:", "ALL OK" if not failures else f"{len(failures)} FAILED")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
