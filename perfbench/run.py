"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. Builds the engine and the harness
(`build.py`), generates the seeded inputs (`gen.py`), runs the workload
in a fresh JVM (`perfbench.Harness`), checks every output (`check.py`)
and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics (from spans and Spark listener
charges) with `--trace 1`. Lines before it report the workload's own
figures, the session shape, the input hash and the host context.
Everything it writes stays under `.bench_work/`, `.bench_build/` and
`.bench_state/` in the tree, and `.bench_work/<run>` is removed at exit.
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
sys.path.insert(0, HERE)

WORKLOADS = ["adhoc_star", "corpus_batch"]
# input size per workload, in gen.py scale units (0.1 = the reference sf0.1)
SCALE = {"adhoc_star": 0.02, "corpus_batch": 0.01}
# a wedged run must still end well inside the 180 s limit
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# adhoc_star's set-up ops; every other op it records is a request, by template
SETUP_KINDS = {"rebuild", "backfill"}
ENTRIES = ["llm_corpus_build", "dd_minhash_pairs", "ss_knn_graph", "g_label_propagation",
           "reco_item_item", "tx_lm_score"]


def session_shape():
    """Cores for local[N] and the heap: N = usable cores (a local[32]
    default on a small host measures the scheduler), heap = half the
    host memory clamped to [2, 8] GiB, as in the repository's test setup."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cpus, f"{min(8, max(2, kb // 2097152))}g"


def host_context():
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_ticks": cpu}


def steal_share(a, b):
    d = [y - x for x, y in zip(a["cpu_ticks"], b["cpu_ticks"])]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) > 0 else 0.0


def manifest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_ops(r):
    """The loop's timed ops as (type, ms): adhoc_star's requests by
    template, corpus_batch's timed entry calls by entry."""
    if r["workload"] == "adhoc_star":
        return [(o["kind"], o["ms"]) for o in r["ops"] if o["kind"] not in SETUP_KINDS]
    return [(o["key"], o["ms"]) for o in r["ops"]
            if o["kind"] == "entry" and o["check"].get("timed")]


def geomean_of_medians(typed):
    """Geometric mean over op types of each type's median latency: every
    type weighs the same however often the run drew it."""
    by = {}
    for t, ms in typed:
        by.setdefault(t, []).append(ms)
    return statistics.geometric_mean([median(v) for v in by.values()]) if by else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Spans:
    """Spans and listener charges of a traced run, by name."""
    KEYS = ["jobs", "stages", "tasks", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write",
            "spill", "input", "output", "output_rows"]

    def __init__(self, r):
        self.spans = r["spans"]
        self.charges = {int(k): v for k, v in r["charges"].items()}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s["id"])

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def ms(self, name):
        return [s["end_ms"] - s["start_ms"] for s in self.named(name)]

    def charge(self, span_id):
        """Charge of a span and everything under it."""
        tot = dict.fromkeys(self.KEYS, 0)
        stack = [span_id]
        while stack:
            i = stack.pop()
            for k, v in self.charges.get(i, {}).items():
                tot[k] += v
            stack += self.children.get(i, [])
        return tot


def end_to_end(r):
    return {
        "setup_s": (median(r["setup"]["setup_s"]), "s"),
        "op_geomean_ms": (geomean_of_medians(timed_ops(r)), "ms"),
    }


def workload_figures(r, error_rate):
    """The workload's own figures, beside the end-to-end metrics."""
    by = lambda k: [o["ms"] for o in r["ops"] if o["kind"] == k]
    adhoc = [ms for _, ms in timed_ops(r)] if r["workload"] == "adhoc_star" else []
    return {
        "error_rate": (error_rate, "ratio"),
        "peak_rss_mb": (r["jvm"]["vm_hwm_mb"], "MB"),
        "etl_rebuild_s": (median(by("rebuild")) / 1e3, "s"),
        "etl_backfill_s": (median(by("backfill")) / 1e3, "s"),
        "adhoc_p50_ms": (median(adhoc), "ms"),
        "adhoc_p90_ms": (pct(adhoc, 0.9), "ms"),
        "adhoc_n": (len(adhoc), "count"),
        "batch_pass_s": (median(by("pass")) / 1e3, "s"),
    }


KEY = {"jobs": "jobs", "tasks": "tasks", "stages": "stages", "task_s": "run_ms",
       "shuffle_bytes": "shuffle_write", "shuffle_write_bytes": "shuffle_write",
       "shuffle_read_bytes": "shuffle_read", "spill_bytes": "spill", "input_bytes": "input",
       "output_bytes": "output", "output_rows": "output_rows"}


def layer_value(c, k):
    if k == "cpu_share":
        return c["cpu_ns"] / 1e6 / c["run_ms"] if c["run_ms"] else 0.0
    return c[KEY[k]] / (1e3 if k == "task_s" else 1)


def unit_of(k):
    if k.endswith("bytes"):
        return "bytes"
    return {"task_s": "s", "cpu_share": "ratio"}.get(k, "count")


def repeat_share(keys):
    seen, rep = set(), 0
    for k in keys:
        rep += k in seen
        seen.add(k)
    return rep / len(keys) if keys else 0.0


def per_layer(r, error_rate):
    """Every per-layer figure of a traced run; a layer the workload does
    not call reads 0."""
    sp = Spans(r)
    ops = r["ops"]
    typed = timed_ops(r)
    m = {
        "core.session_start_s": (median(r["setup"]["session_start_s"]), "s"),
        "core.cold_setup_s": (r["setup"]["setup_s"][0], "s"),
        "core.warmup_s": (median(r["setup"]["warmup_s"]), "s"),
        "op.traced_geomean_ms": (geomean_of_medians(typed), "ms"),
        "op.n": (len(typed), "count"),
    }
    m.update(workload_figures(r, error_rate))
    for name, keys in (("etl.rebuild", ["jobs", "stages", "tasks", "task_s", "cpu_share",
                                        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                                        "input_bytes", "output_bytes", "output_rows"]),
                       ("etl.backfill", ["jobs", "task_s", "output_bytes"])):
        calls = [sp.charge(s["id"]) for s in sp.named(name)]
        for k in keys:
            m[f"{name}.{k}"] = (median([layer_value(c, k) for c in calls]), unit_of(k))
    m["etl.register_ms"] = (median(r["extra"].get("register_ms", [])), "ms")

    queries = [sp.charge(s["id"]) for s in sp.named("adhoc.query") + sp.named("analytics.run_sql")]
    m["adhoc.plan_ms"] = (median(sp.ms("adhoc.plan")), "ms")
    m["adhoc.exec_ms"] = (median(sp.ms("adhoc.exec")), "ms")
    for k in ("jobs", "tasks", "input_bytes"):
        m[f"adhoc.{k}_per_query"] = (
            statistics.fmean([q[KEY[k]] for q in queries]) if queries else 0.0, unit_of(k))
    m["analytics.run_sql_call_ms"] = (median(sp.ms("analytics.run_sql_call")), "ms")
    m["analytics.catalog_ms"] = (median(sp.ms("analytics.catalog")), "ms")
    m["adhoc.repeat_query_share"] = (repeat_share(
        [o["key"] for o in ops if o["kind"] not in SETUP_KINDS] if r["workload"] == "adhoc_star"
        else []), "ratio")

    for e in ENTRIES:
        calls = [sp.charge(s["id"]) for s in sp.named(f"batch.{e}")]
        m[f"batch.{e}.s"] = (median(sp.ms(f"batch.{e}")) / 1e3, "s")
        for k in ("jobs", "shuffle_bytes", "spill_bytes"):
            m[f"batch.{e}.{k}"] = (median([layer_value(c, k) for c in calls]), unit_of(k))
    timed = [o["check"] for o in ops if o["kind"] == "entry" and o["check"].get("timed")]
    m["batch.persisted_rdds_after"] = (max([c["persisted_rdds"] for c in timed], default=0), "count")
    m["batch.storage_bytes_after"] = (max([c["storage_bytes"] for c in timed], default=0), "bytes")
    m["jvm.gc_s"] = (r["jvm"]["gc_s"], "s")
    m["jvm.heap_used_after_mb"] = (r["jvm"]["heap_used_after_mb"], "MB")
    return m


def declared(key):
    """Metric names BENCHMARK.json declares under `key`."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[key]]


def verify_inputs(state_dir, seed, scale, digest):
    """Refuse to run when a seed's inputs differ from an earlier run's."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "manifests.json")
    known = json.load(open(path)) if os.path.exists(path) else {}
    key = f"{seed}:{scale}"
    if known.setdefault(key, digest) != digest:
        sys.exit(f"inputs for seed {seed} hash to {digest}, earlier runs had {known[key]}")
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(known, f, indent=0, sort_keys=True)
    os.replace(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    root = os.getcwd()
    t_start = time.time()
    def mark(what):
        print(f"perfbench: {what} at {time.time() - t_start:.1f} s", file=sys.stderr)
    import build
    cp = build.build()
    cpus, heap = session_shape()
    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import gen
        data = os.path.join(work, "data")
        gen.write(data, a.seed, SCALE[a.workload])
        inputs = manifest(data)
        verify_inputs(os.path.join(root, ".bench_state"), a.seed, SCALE[a.workload], inputs)
        mark("inputs generated")
        host0 = host_context()
        out = os.path.join(work, "result.json")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                "-cp", cp, "perfbench.Harness", a.workload, str(a.seed), str(a.seconds),
                str(a.trace), data, work, out])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        env.pop("GRAFT_SESSION_CONF", None)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        host1 = host_context()
        mark("harness exited")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"harness failed ({rc})")
        with open(out) as f:
            r = json.load(f)

        import check
        verdicts = check.Checker(r, data, os.path.join(root, ".bench_state"),
                                 SCALE[a.workload]).verdicts()
        failed = [(op, err) for op, err in verdicts if err]
        mark("outputs checked")
        for op, err in failed[:10]:
            print(f"perfbench: FAILED {op['kind']} {op['key'][:80]!r}: {err}", file=sys.stderr)
        attempted = max(1, len(verdicts))
        error_rate = len(failed) / attempted

        measured = per_layer(r, error_rate) if a.trace else end_to_end(r)
        metrics = {k: measured[k] for k in declared("per_layer" if a.trace else "end_to_end")}
        context = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "session": {"master": f"local[{r['cpus']}]", "SPARK_GRAFT_CPUS": cpus, "heap": heap,
                        "max_heap_mb": r["max_heap_mb"]},
            "inputs": {"scale": SCALE[a.workload], "manifest": inputs},
            "requests": {"hash": r["request_hash"], "head": r["request_head"]},
            "host": {"loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
                     "steal_share": steal_share(host0, host1), "probe_st_s": round(r["jvm"]["probe_s"], 4)},
        }
        print("perfbench context: " + json.dumps(context))
        figures = workload_figures(r, error_rate)
        print("perfbench figures: " + json.dumps({k: round(v, 4) for k, (v, _) in figures.items()}))
        print(json.dumps({
            "correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        if a.keep:
            print(f"perfbench: kept {work}", file=sys.stderr)
        else:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
