"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Run from the root of a source tree; takes about three minutes. Checks:

1. inputs: one seed generates identical tables, two seeds different ones;
2. requests: one seed gives one request sequence per workload, two seeds
   two different ones (hash printed by `perfbench.Harness --requests`);
3. output checks: each check rejects a perturbed result (ETL stage rows,
   backfill state, star-schema and runSql rows, describeTable, corpus
   digests across passes and across runs);
4. traces: two traced adhoc_star runs with one seed charge identical job,
   stage and task counts and shuffle bytes to the same requests and to
   the set-up's rebuild.
Exits non-zero on the first failed check.
"""
import copy
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def inputs():
    a, b, c = gen.build(1, 0.002), gen.build(1, 0.002), gen.build(2, 0.002)
    expect(all(a[t].equals(b[t]) for t in gen.TABLES), "one seed, identical inputs")
    expect(not all(a[t].equals(c[t]) for t in gen.TABLES), "two seeds, different inputs")


def requests(cp):
    def h(w, seed):
        return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Harness",
                               "--requests", w, str(seed)],
                              check=True, capture_output=True, text=True).stdout.strip()
    for w in run.WORKLOADS:
        expect(h(w, 5) == h(w, 5), f"{w}: one seed, one request sequence")
        expect(h(w, 5) != h(w, 6), f"{w}: two seeds, two request sequences")


def traced_run(seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "adhoc_star",
                        "--seed", str(seed), "--seconds", "10", "--trace", "1", "--keep"],
                       capture_output=True, text=True)
    work = re.search(r"perfbench: kept (\S+)", p.stderr).group(1)
    expect(p.returncode == 0 and json.loads(p.stdout.splitlines()[-1])["correct"],
           f"traced adhoc_star run with seed {seed} is correct")
    with open(os.path.join(work, "result.json")) as f:
        r = json.load(f)
    return r, work


def rejects(r, data, state, mutate, what):
    bad = copy.deepcopy(r)
    mutate(bad)
    failed = [e for _, e in check.Checker(bad, data, state, 0).verdicts() if e]
    expect(bool(failed), f"check rejects {what}")


def first(r, kind, pred=lambda op: True):
    return next(op for op in r["ops"] if op["kind"] == kind and pred(op))


def output_checks(r, work, state):
    data = os.path.join(work, "data")
    ok = [e for _, e in check.Checker(r, data, state, 0).verdicts() if e]
    expect(not ok, "the unperturbed result passes every check")

    def stage_rows(x):
        first(x, "rebuild")["check"]["stages"][0]["rows"] += 1

    def backfill(x):
        first(x, "backfill")["check"]["rows"][0][1] += 1

    def star(x):
        op = first(x, "rollup", lambda o: o["check"]["rows"])
        row = op["check"]["rows"][0]
        i = next(i for i, v in enumerate(row) if isinstance(v, (int, float)) and not isinstance(v, bool))
        row[i] = row[i] * 1.01 + 1

    def runsql(x):
        first(x, "sql_nation_segment")["check"]["rows"].pop()

    def describe(x):
        rows = first(x, "describe")["check"]["rows"]
        rows[0], rows[1] = rows[1], rows[0]

    rejects(r, data, state, stage_rows, "a wrong ETL stage row count")
    rejects(r, data, state, backfill, "a wrong backfill state")
    rejects(r, data, state, star, "a wrong star-schema aggregate")
    rejects(r, data, state, runsql, "a missing runSql row")
    if any(op["kind"] == "describe" for op in r["ops"]):
        rejects(r, data, state, describe, "a reordered describeTable")

    def entry(p, digest):
        return {"kind": "entry", "key": "tx_lm_score", "ok": True, "detail": "",
                "check": {"digest": digest, "pass": p}}
    corpus = {"workload": "corpus_batch", "seed": 1, "ops": [entry(0, "d1"), entry(1, "d1")]}
    verdict = lambda x: [e for _, e in check.Checker(x, data, state, 0.5).verdicts() if e]
    expect(not verdict(corpus), "corpus digests equal across passes pass (and are recorded)")
    corpus2 = copy.deepcopy(corpus)
    corpus2["ops"][1]["check"]["digest"] = "d2"
    expect(bool(verdict(corpus2)), "check rejects a corpus digest that differs across passes")
    corpus3 = copy.deepcopy(corpus)
    for op in corpus3["ops"]:
        op["check"]["digest"] = "d3"
    expect(bool(verdict(corpus3)), "check rejects a corpus digest that differs from an earlier run")


def traces(a, b):
    def per_request(r):
        sp = run.Spans(r)
        out = {}
        for s in sp.spans:
            if s["name"] in ("adhoc.query", "analytics.run_sql") and s["request"] >= 0:
                c = sp.charge(s["id"])
                out[s["request"]] = (c["jobs"], c["stages"], c["tasks"], c["shuffle_write"], c["shuffle_read"])
        return out

    def rebuild(r):
        sp = run.Spans(r)
        c = sp.charge(sp.named("etl.rebuild")[0]["id"])
        return c["jobs"], c["stages"], c["tasks"], c["shuffle_write"], c["shuffle_read"]

    pa, pb = per_request(a), per_request(b)
    common = sorted(set(pa) & set(pb))
    expect(len(common) >= 10, f"the two traced runs share {len(common)} requests")
    diff = [i for i in common if pa[i] != pb[i]]
    expect(not diff, "identical jobs, stages, tasks and shuffle bytes per request"
           + (f" (request {diff[0]}: {pa[diff[0]]} vs {pb[diff[0]]})" if diff else ""))
    expect(rebuild(a) == rebuild(b), f"identical rebuild charges {rebuild(a)} vs {rebuild(b)}")


def main():
    cp = build.build()
    inputs()
    requests(cp)
    state = tempfile.mkdtemp(prefix="selftest_state_", dir=os.getcwd())
    works = []
    try:
        a, wa = traced_run(21)
        works.append(wa)
        b, wb = traced_run(21)
        works.append(wb)
        output_checks(a, wa, state)
        traces(a, b)
    finally:
        for w in works + [state]:
            shutil.rmtree(w, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
