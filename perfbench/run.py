#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_movies --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* etl_movies     -- the paper's whole extract -> transform -> load pipeline,
                    loading into embedded Derby over JDBC;
* query_headline -- the 12 declared headline queries over TPC-H-shaped
                    parquet, sunk to `noop`.

Steps: build the engine and the benchmark driver from source (skipped when
the sources are unchanged since the last build in this checkout), generate
the inputs from `--seed`, run one JVM that sets up, times iterations for
`--seconds` and gathers correctness facts, then check those facts and print
every metric by name. The last line of standard output is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}` with the
end-to-end metrics of BENCHMARK.json, or its per-layer metrics with
`--trace 1`. Everything is read and written inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170          # the whole run, build excluded
BUILD_TIMEOUT_S = 840
WORKLOADS = ("etl_movies", "query_headline")
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compiles with sbt when any source changed; returns the classpath."""
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building the engine and the benchmark driver with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "target" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def gen_inputs(workload, seed, out):
    sys.path.insert(0, HERE)
    import gen_inputs
    if workload == "query_headline":
        return gen_inputs.gen_tables(out, seed)
    return gen_inputs.gen_movies(out, seed)


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat: (steal, total)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(classpath, args, log_path, timeout):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false"] + JDK17_OPENS
           + ["-cp", classpath, "perfbench.Main"] + args)
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:     # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ------------------------------------------------------------------ checks

def check_movies(res, manifest):
    """etl_movies: input and checkpoint counts, Derby read-back counts after
    every iteration, a column checksum of the loaded ratings, and every
    loaded movie's gap-filled values and rating counts."""
    c = res["checks"]
    out = [("extract rows", c["extract_rows"]
            == {"wiki": manifest["wiki_rows"], "kaggle": manifest["kaggle_rows"],
                "ratings": manifest["ratings_rows"]})]
    for k in ("clean_wiki_rows", "clean_kaggle_rows", "join_movies_rows",
              "rating_counts_rows", "output_rows"):
        if k in c:   # the stage checkpoints are counted by traced runs
            out.append((k, c[k] == manifest[k.replace("rating_counts", "output")]))
    for i, rb in enumerate(c["readback"]):
        out.append((f"read-back counts, iteration {i}",
                    rb == {"movies_with_ratings": manifest["output_rows"],
                           "ratings": manifest["ratings_rows"]}))
    out.append(("ratings read-back checksum",
                c["ratings_checksum"] == manifest["ratings_checksum"]))
    cols = c["sink_columns"]
    got = {str(r[0]): list(r[1:]) for r in c["sink_rows"]}
    want = manifest["rows"]
    out.append(("loaded kaggle ids", set(got) == set(want)))
    out.append(("loaded revenue/budget/runtime/rating counts",
                all(got.get(k) == v for k, v in want.items())))
    totals = {n: sum(v[i + 3] for v in got.values())
              for i, n in enumerate(cols[4:])}
    out.append(("per-level rating totals",
                totals == manifest["rating_level_totals"]))
    out.append(("sum of kaggle_id", sum(int(k) for k in got)
                == manifest["sum_kaggle_id"]))
    return out


def check_queries(res, data_dir, timeout):
    """query_headline: each headliner's result against its oracle SQL in
    DuckDB, with the repository's own comparison rules."""
    c = res["checks"]
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
         data_dir, c["check_dir"]] + c["queries"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=timeout)
    status = {}
    for line in p.stdout.splitlines():
        for tag in ("PASS ", "FAIL "):
            if line.startswith(tag):
                status[line[5:].split(" ")[0].rstrip(":")] = tag == "PASS "
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            log(line)
    return [(f"oracle {q}", status.get(q, False)) for q in c["queries"]]


# ----------------------------------------------------------------- metrics

def self_times(path):
    """Mean self time per traced iteration of each span name: a span's
    duration minus the part of it its child spans cover."""
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    child = {}
    for sp in spans:
        child[sp["parent"]] = child.get(sp["parent"], 0) + (
            sp["end_ns"] - sp["start_ns"])
    iters = {sp["iter"] for sp in spans if sp["name"] == "iteration"}
    total = {}
    for sp in spans:
        if sp["iter"] in iters:
            own = sp["end_ns"] - sp["start_ns"] - child.get(sp["id"], 0)
            total[sp["name"]] = total.get(sp["name"], 0) + own / 1e9
    return {k: v / len(iters) for k, v in total.items()}


def high_percentile(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; choose from {WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: "
             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t_start = time.time()
    classpath = build()
    t_run = time.time()

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    try:
        manifest = gen_inputs(a.workload, a.seed, inputs)
        res_path = os.path.join(run_dir, "result.json")
        jvm_log = os.path.join(run_dir, "jvm.log")
        cores = len(os.sched_getaffinity(0))
        steal0, total0 = cpu_ticks()
        rc = run_jvm(classpath, [
            "--workload", a.workload, "--inputs", inputs,
            "--work", run_dir, "--out", res_path,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores)], jvm_log,
            DEADLINE_S - (time.time() - t_run))
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # a shared host slows every metric without any code change
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if rc != 0 or not os.path.exists(res_path):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM failed (exit {rc})")
        with open(res_path) as f:
            res = json.load(f)
        if a.workload == "etl_movies":
            checks = check_movies(res, manifest)
        else:
            checks = check_queries(
                res, inputs, max(5, DEADLINE_S - (time.time() - t_run)))
        if a.trace:
            spans = os.path.join(WORK, "traces",
                                 f"{a.workload}-{a.seed}.spans.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), spans)
            self_s = self_times(spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, ok in checks:
        if not ok:
            log(f"check failed: {name}")
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(1 for _, ok in checks if not ok)
    runs = res["run_s"]
    if not runs:
        fail("no iteration succeeded")
    run_s = statistics.median(runs)
    values = {
        "setup_s": res["setup_s"],
        "run_s": run_s,
        "rows_per_s": res["input_rows"] / run_s,
    }
    layers = dict(res["layers"] or {})
    layers["sink_bytes"] = res["sink_bytes"]
    layers["failed_frac"] = failed / attempted
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    layers["host.steal_frac"] = steal

    # human-readable report: every metric by name, with its unit
    print(f"workload {a.workload}  seed {a.seed}  cores {res['cores']}  "
          f"build {t_run - t_start:.1f} s")
    hp = high_percentile(runs)
    print(f"  run_s samples={len(runs)} median={run_s:.4f} s"
          + (f" p{hp[0]}={hp[1]:.4f} s" if hp else
             " (fewer than 11 samples: no tail percentile)"))
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<24} {values[m['name']]:.6g} {m['unit']}")
    print(f"  {'failed_frac':<24} {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} operations)")
    print(f"  {'sink_bytes':<24} {res['sink_bytes']} bytes")
    print(f"  {'peak_rss_mb':<24} {res['peak_rss_mb']:.6g} MB")
    print(f"  {'host.steal_frac':<24} {steal:.4f} ratio")
    for label, xs in res["checks"].get("query_s", {}).items():
        print(f"  query {label:<18} median {statistics.median(xs):.4f} s")
    if a.trace:
        for name, sec in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  self time {name:<28} {sec:.4f} s per iteration")
        for m in spec["per_layer"]:
            print(f"  {m['name']:<32} {layers.get(m['name'], 0.0):.6g} "
                  f"{m['unit']}")

    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    src = layers if a.trace else values
    metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
