#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload tail|heavy|mr_corpus --seed N \
        --seconds S --trace 0|1

Builds the program from the checkout this file sits in (sbt, once per
source fingerprint), then runs the workload in fresh JVMs through the
program's public entry points (perfbench/src/.../Harness.scala), each
after graft.Bench's warmup and an untimed prime (spec.json "prime"). Every
output is checked: catalog queries against the RowHash values recorded in
perfbench/spec.json, MapReduce jobs against the counts and postings the
corpus generator knows. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Each run does fixed work, so --seconds is accepted but does not change it.
Workload choices, the layer -> end-to-end table and the expected null
results are recorded in perfbench/spec.json.

    python3 perfbench/run.py --record-expected

re-records the catalog hashes (two passes in different orders; a query
whose hash differs between them is listed for a row-count check instead).
"""
import argparse
import collections
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
SPEC_PATH = os.path.join(HERE, "spec.json")
RUN_BUDGET_S = 170
HASH_EVERY = 4
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def fingerprint():
    """Hash of every file the build reads, so a changed program rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            and "project" not in os.path.relpath(d, top).split(os.sep)[:1]
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    build_log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
            stdin=subprocess.DEVNULL)
    with open(build_log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or ":" not in cp:
        log("\n".join(lines[-30:]))
        raise BenchError(f"build failed (sbt exit {rc}), see {build_log}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- JVMs

class Jvm:
    """Launches one fresh harness JVM per call, inside the run's deadline."""

    def __init__(self, classpath, deadline, seed):
        self.cp = classpath
        self.deadline = deadline
        self.seed = seed
        self.n = 0
        self.tmp = os.path.join(BUILD, "tmp")
        self.results = os.path.join(BUILD, "results")
        for d in (self.tmp, self.results):
            os.makedirs(d, exist_ok=True)

    def run(self, label, cores, args):
        self.n += 1
        out = os.path.join(self.results, f"{label}-{os.getpid()}-{self.n}.json")
        logf = os.path.join(self.results, f"{label}-{os.getpid()}-{self.n}.log")
        # fixed heap and young generation: G1 would otherwise size the young
        # generation by its pause predictions, which follow host contention,
        # and rss_peak_mb with it
        cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Dspark.local.dir={self.tmp}", f"-Djava.io.tmpdir={self.tmp}",
                  "-cp", self.cp, "perfbench.Harness",
                  "--launch-ms", str(int(time.time() * 1000)),
                  "--cores", str(cores), "--data", DATA, "--seed", str(self.seed),
                  "--out", out] + args)
        remaining = self.deadline - time.time()
        if remaining <= 5:
            raise BenchError(f"{label}: no time left in the run budget")
        with open(logf, "w") as lf:
            p = subprocess.Popen(cmd, cwd=self.tmp, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=remaining)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise BenchError(f"{label}: JVM killed at the run deadline, log {logf}")
        if rc != 0 or not os.path.exists(out):
            with open(logf) as f:
                tail = [l for l in f if "Exception" in l or "Error" in l][:5]
            raise BenchError(f"{label}: JVM exit {rc}, log {logf}: {''.join(tail)}")
        with open(out) as f:
            res = json.load(f)
        os.remove(out)
        os.remove(logf)
        return res


# ---------------------------------------------------------------- checks

def check_catalog(res, spec):
    """Compare each hashed output with the recorded value; return failures."""
    expected = spec["expected"]
    bad = []
    got = {h["name"]: h for h in res.get("hashes", [])}
    for q in res["queries"]:
        h = got.get(q["name"])
        if q["status"] != "ok" or h is None:
            continue
        if "error_class" in h:
            bad.append((q["name"], "hash pass threw " + h["error_class"]))
        elif "rows" in h:
            want = expected["rows"].get(q["name"])
            if h["rows"] != want:
                bad.append((q["name"], f"rows {h['rows']} != {want}"))
        elif h.get("hash") != expected["hash"].get(q["name"]):
            bad.append((q["name"], f"hash {h.get('hash')} != {expected['hash'].get(q['name'])}"))
    return bad


def gen_corpus(seed, cfg, path):
    """Seeded multi-file corpus with a Zipf vocabulary; returns the exact
    word counts and per-word file sets that wc and indexer must produce."""
    rnd = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab, seen = [], set()
    while len(vocab) < cfg["vocabulary"]:
        # length fixed by rank, letters by seed: every seed's corpus has the
        # same size and shape
        w = "".join(rnd.choice(letters) for _ in range(3 + len(vocab) % 8))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    weights = [1.0 / (r + 1) ** cfg["zipf_s"] for r in range(len(vocab))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    counts = collections.Counter()
    files = collections.defaultdict(set)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    total = 0
    ids = range(len(vocab))
    for i in range(cfg["files"]):
        name = f"pg-{i:02d}.txt"
        toks = rnd.choices(ids, cum_weights=cum, k=cfg["words_per_file"])
        c = collections.Counter(toks)
        counts.update(c)
        for t in c:
            files[t].add(name)
        lines = [" ".join(vocab[t] for t in toks[j:j + 12]) + "."
                 for j in range(0, len(toks), 12)]
        data = ("\n".join(lines) + "\n").encode()
        total += len(data)
        with open(os.path.join(path, name), "wb") as f:
            f.write(data)
    wc = {vocab[t]: str(n) for t, n in counts.items()}
    index = {vocab[t]: sorted(fs) for t, fs in files.items()}
    return wc, index, total


def check_mr(job, wc, index):
    """Parse one job's text sink and compare with the generator's truth."""
    got = {}
    d = job["out"]
    for fn in sorted(os.listdir(d)):
        if fn.startswith("part-"):
            with open(os.path.join(d, fn)) as f:
                for line in f:
                    k, _, v = line.rstrip("\n").partition(" ")
                    got[k] = v
    if job["name"] == "wc":
        ok = got == wc
    else:
        ok = len(got) == len(index) and all(
            k in got and got[k].split(" ", 1)[0] == str(len(fs))
            and sorted(os.path.basename(p) for p in got[k].split(" ", 1)[1].split(","))
            == fs for k, fs in index.items())
    shutil.rmtree(d, ignore_errors=True)
    return ok


# ---------------------------------------------------------------- metrics

def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the order statistics weighted
    by a Beta(p(n+1), (1-p)(n+1)) density. With 8 to 24 samples a run, a
    plain sample quantile jumps between clusters of query walls as the seeded
    order moves first-use costs around; this estimate moves smoothly."""
    s = sorted(xs)
    n, steps = len(s), 1000
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cum, acc = [0.0], 0.0
    for k in range(steps * n):
        x = (k + 0.5) / (steps * n)
        acc += x ** (a - 1) * (1 - x) ** (b - 1)
        cum.append(acc)
    return sum((cum[steps * i] - cum[steps * (i - 1)]) / acc * v for i, v in enumerate(s, 1))


def layer_split(res, cores):
    """Per-layer self times and counters of one traced pass."""
    qs = [q for q in res["queries"] if q["status"] == "ok"]
    m = collections.Counter()
    worst = 0.0
    skews = []
    for q in qs:
        cat = q["catalyst"]
        cat_s = cat["analysis_s"] + cat["optimization_s"] + cat["planning_s"]
        cg = q["codegen_compile_s"]
        construct_self = q["construct_s"] - cat["construct_analysis_s"]
        exec_self = max(0.0, q["action_s"] - cat_s - cg)
        layers = construct_self + cat["construct_analysis_s"] + cat_s + cg + exec_self
        worst = max(worst, abs(layers - q["wall_s"]) / q["wall_s"])
        m["catalog.construct_s"] += construct_self
        m["catalyst.analysis_s"] += cat["construct_analysis_s"]
        m["catalog.construct_jobs"] += q["construct_jobs"]
        m["catalog.registry_delta"] += q["registry_delta"]
        for p in ("analysis", "optimization", "planning"):
            m[f"catalyst.{p}_s"] += cat[p + "_s"]
        m["catalyst.exchanges"] += cat["exchanges"]
        m["codegen.classes"] += q["codegen_classes"]
        m["codegen.compile_s"] += cg
        m["exec.s"] += exec_self
        m["action_s"] += q["action_s"]
        e = q["exec"]
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[f"exec.{k}"] += e[k]
        m["tasks_ok"] += e["tasks_ok"]
        mr = q["mr"]
        for k in ("map_records", "output_keys", "map_stage_s", "reduce_stage_s"):
            m[f"mr.{k}"] += mr[k]
        if mr["reduce_skew"] > 0:
            skews.append(mr["reduce_skew"])
    m["exec.core_busy_ratio"] = m["exec.task_run_s"] / max(1e-9, m.pop("action_s") * cores)
    m["exec.task_success_ratio"] = m.pop("tasks_ok") / max(1, m["exec.tasks"])
    # 0 where the sink reports no records (the catalog's noop sink)
    m["mr.records_per_key"] = m["mr.map_records"] / m["mr.output_keys"] if m["mr.output_keys"] else 0.0
    m["mr.reduce_skew"] = statistics.median(skews) if skews else 0.0
    m["trace.reconcile_max_err"] = worst
    return m


# ---------------------------------------------------------------- workloads

def run_catalog(args, spec, jvm, cores):
    """One pass of the workload's queries in one fresh JVM, after the
    untimed prime queries. tail runs in a seeded order; heavy runs in its
    listed order. A seeded quarter of the queries is hashed after the pass,
    so every query is checked in every fourth run and a run stays within
    the time budget."""
    w = spec["workloads"][args.workload]
    order = list(w["queries"])
    if w.get("shuffle"):
        random.Random(f"{args.workload}:{args.seed}").shuffle(order)
    hashed = [n for i, n in enumerate(sorted(order)) if (i + args.seed) % HASH_EVERY == 0]
    res = jvm.run(args.workload, cores, [
        "--mode", "catalog", "--prime", ",".join(spec["prime"]["queries"]),
        "--queries", ",".join(order), "--trace", str(args.trace),
        "--hash", ",".join(hashed), "--count-only", ",".join(spec["expected"]["rows"])])
    return [res], check_catalog(res, spec), sum(q["input_bytes"] for q in res["queries"])


def run_mr(args, spec, jvm, cores):
    """A fixed number of wc + indexer pairs in one fresh JVM, after one
    untimed pair; a traced run adds one local[1] pair as the
    single-threaded baseline."""
    cfg = spec["workloads"]["mr_corpus"]["corpus"]
    corpus = os.path.join(BUILD, "corpus")
    outdir = os.path.join(BUILD, "mr-out")
    shutil.rmtree(outdir, ignore_errors=True)
    wc, index, total = gen_corpus(args.seed, cfg, corpus)

    def job_args(label, jobs):
        return ["--mode", "mr", "--corpus", corpus, "--outdir", os.path.join(outdir, label),
                "--nreduce", str(cfg["nreduce"]), "--trace", str(args.trace if label == "run" else 0), "--jobs", str(jobs)]

    passes = [jvm.run("mr_corpus", cores, job_args("run", 2 * cfg["pairs"]))]
    if args.trace:
        passes.append(jvm.run("mr_corpus-local1", 1, job_args("local1", 2)))
    bad = []
    for res in passes:
        for q in res["queries"]:
            if q["status"] == "ok" and not check_mr(q, wc, index):
                bad.append((f"{q['name']}#{q['qid']}", "output differs from the generator's"))
    shutil.rmtree(corpus, ignore_errors=True)
    shutil.rmtree(outdir, ignore_errors=True)
    if args.trace:
        per_job = [statistics.mean(q["wall_s"] for q in r["queries"]) for r in passes]
        log(f"local[1] baseline: {per_job[1]:.3f} s/job vs local[{cores}] {per_job[0]:.3f} s/job "
            f"over a {total / 1e6:.2f} MB corpus")
    ok_jobs = sum(q["status"] == "ok" for q in passes[0]["queries"])
    return passes, bad, total * ok_jobs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError(f"no program sources next to {HERE}")
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.record_expected:
        return record_expected(spec)
    if args.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {args.workload!r}")
    cp = build()
    cores = len(os.sched_getaffinity(0))
    jvm = Jvm(cp, time.time() + RUN_BUDGET_S, args.seed)
    runner = run_mr if args.workload == "mr_corpus" else run_catalog
    passes, bad, input_bytes = runner(args, spec, jvm, cores)
    measured = passes[0]
    artifact = os.path.join(jvm.results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as f:
        json.dump({"args": vars(args), "cores": cores, "passes": passes, "wrong": bad}, f)

    errors = [(q["name"], q["error_class"]) for r in passes for q in r["queries"]
              if q["status"] != "ok"]
    errors += [("prime " + e["name"], e["error_class"]) for r in passes for e in r["prime_errors"]]
    attempted = sum(len(r["queries"]) for r in passes)
    failed = len(errors) + len(bad)
    for name, why in errors:
        log(f"FAILED {name}: {why}")
    for name, why in bad:
        log(f"WRONG  {name}: {why}")
    log(f"failed {failed} of {attempted} attempted")
    walls = [q["wall_s"] for q in measured["queries"] if q["status"] == "ok"]
    if not walls:
        raise BenchError("no query succeeded")
    mach = measured["machine"]
    log(f"{args.workload} seed={args.seed} trace={args.trace} cores={cores} "
        f"loadavg1={mach['loadavg1_start']} steal_ticks={mach['steal_ticks']} "
        f"java_procs={mach['java_procs']} queries={len(walls)} elapsed={time.time() - start:.1f}s")
    if args.trace:
        m = layer_split(measured, cores)
        m["session.build_s"] = measured["session_build_s"]
        m["session.warmup_s"] = measured["session_warmup_s"]
        m["session.prime_s"] = measured["session_prime_s"]
        # the pass's wall outside its timed query windows: the tracer's
        # bookkeeping between queries (untraced, this gap is a bus drain)
        m["trace.overhead_s"] = measured["pass_s"] - sum(q["wall_s"] for q in measured["queries"])
        m["host.steal_ticks"] = mach["steal_ticks"]
        m["host.loadavg1"] = mach["loadavg1_start"]
        for k, v in measured["kernels"].items():
            m[f"functions.{k}.ns_per_row"] = v["ns_per_row"]
            m[f"functions.{k}.sql_ns_per_row"] = v["sql_ns_per_row"]
        wall = sum(q["wall_s"] for q in measured["queries"] if q["status"] == "ok")
        shares = {k: m[k] / wall for k in ("catalog.construct_s", "catalyst.analysis_s",
                  "catalyst.optimization_s", "catalyst.planning_s", "codegen.compile_s", "exec.s")}
        log("wall by layer: " + " ".join(f"{k}={v:.1%}" for k, v in shares.items())
            + f" of {wall:.2f} s; worst reconcile error {m['trace.reconcile_max_err']:.2%}")
        units = {d["name"]: d["unit"] for d in bench["per_layer"]}
    else:
        tail = hd_quantile(walls, 0.75)
        log(f"query_tail_s is p75 of {len(walls)} samples, {sum(w > tail for w in walls)} beyond it")
        m = {
            "setup_s": (measured["session_build_s"] + measured["session_warmup_s"]
                        + measured["session_prime_s"]),
            "wall_s": measured["pass_s"],
            "query_p50_s": hd_quantile(walls, 0.5),
            "query_tail_s": tail,
            "input_mb_per_s": input_bytes / 1e6 / measured["pass_s"],
            "rss_peak_mb": measured["rss_peak_mb"],
        }
        units = {d["name"]: d["unit"] for d in bench["end_to_end"]}
    missing = set(units) - set(m)
    if missing:
        raise BenchError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": not bad and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }))


def record_expected(spec):
    """Hash every catalog query twice, in two seeded orders."""
    cp = build()
    cores = len(os.sched_getaffinity(0))
    names = sorted(set(spec["workloads"]["tail"]["queries"])
                   | set(spec["workloads"]["heavy"]["queries"]))
    seen = collections.defaultdict(set)
    rows = {}
    for seed in (1, 2):
        order = list(names)
        random.Random(seed).shuffle(order)
        jvm = Jvm(cp, time.time() + 900, seed)
        args = ["--mode", "catalog", "--queries", ",".join(order), "--trace", "0",
                "--hash", ",".join(names)]
        res = jvm.run("record", cores, args + ["--count-only", ",".join(names)])
        rows.update({h["name"]: h["rows"] for h in res["hashes"]})
        res = jvm.run("record", cores, args)
        for h in res["hashes"]:
            seen[h["name"]].add(h.get("hash"))
    unstable = sorted(n for n, hs in seen.items() if len(hs) != 1)
    spec["expected"] = {
        "hash": {n: next(iter(seen[n])) for n in names if n not in unstable},
        "rows": {n: rows[n] for n in unstable},
    }
    with open(SPEC_PATH, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    log(f"recorded {len(names)} queries; unstable (row-count check): {unstable}")


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"benchmark error: {e}")
        sys.exit(1)
