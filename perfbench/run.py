#!/usr/bin/env python3
"""Closed-loop benchmark of the query engine, end to end and layer by layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s>
                           --trace <0|1> [--min-samples <n>]

Workloads (see WORKLOADS below): dashboard, cold-etl, heavy, scale10.
`--workload all` runs the four in turn.

One run:
  1. builds the engine and the harness from source with sbt (skipped when no
     source changed since the last build in this checkout);
  2. generates the input tables (perfbench/gen_data.py; the 10x replica via
     tools/make_bench_scale.py), reused while their sources are unchanged;
  3. draws the workload's query sample and order from --seed;
  4. runs perfbench.Harness in one JVM at local[N], N = min(4, cores):
     set-up (session, input caching, untimed warm-up and check pass), then a
     closed loop of one client for --seconds;
  5. fingerprints every query's check-pass output and compares it with the
     expected fingerprint stored in perfbench/expected/;
  6. prints every metric by name with its unit, then one JSON line.

`--trace 0` reports the end-to-end metrics; `--trace 1` traces every other
execution of the loop and reports the per-layer metrics, with the tracing
overhead measured against the untraced executions of the same run. Raw
records and a per-query summary are written under perfbench/.work/results/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics as m  # noqa: E402

LABEL_DATASET = "q26_label_dataset"  # q26's full dataset via Sinks.writeDataset
HEAVY = ("q260 q265 q266 q85 q66 q175 q270 q280 q162 q211 q206 q137 q109 "
         "q106 q55 q117 q132 q172 q151 q158").split()
COLD_ETL = ("q21 q22 q23 q24 q25 q26 q01 q02 q03 q04 q05 q06 q07 q08 q09 "
            "q11 q12").split()
SCALE10 = "q37 q61 q85 q106 q109 q231 q260".split()

# scale: input directory under .work/data; hot: tables cached in memory;
# sink: noop, or parquet through graft.io.Sinks; queries: fixed list of
# query ids (order drawn from the seed) or `sample` strata of the registry.
WORKLOADS = {
    "dashboard": dict(scale="sf0.01", hot=True, sink="noop", sample=10,
                      xmx="2g"),
    "cold-etl": dict(scale="sf0.1", hot=False, sink="parquet",
                     queries=COLD_ETL + [LABEL_DATASET], xmx="2g"),
    "heavy": dict(scale="sf0.1", hot=True, sink="noop", queries=HEAVY,
                  xmx="3g"),
    "scale10": dict(scale="scale10", hot=True, sink="noop", queries=SCALE10,
                    xmx="6g"),
}
SCALES = {"sf0.01": 0.01, "sf0.1": 0.1}
RUN_LIMIT_S = 170  # a run must end well inside 180 s
DEFAULT_MIN_SAMPLES = 20  # the smallest sample that reports query_p50_s

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def digest(paths):
    """sha256 over the relative names and contents of files under paths."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, _, names in os.walk(p):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return None


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


# ---------------------------------------------------------------- build

def source_paths():
    return [os.path.join(ROOT, p) for p in (
        "build.sbt", "project/build.properties", "src/main")] + [
        os.path.join(HERE, p) for p in (
            "build.sbt", "project/build.properties", "src/main")]


def check_sources():
    need = [os.path.join(ROOT, p) for p in (
        "build.sbt", "src/main/scala/graft/SparkEntry.scala",
        "tools/check_oracle.py", "tools/make_bench_scale.py")]
    missing = [os.path.relpath(p, ROOT) for p in need if not os.path.exists(p)]
    if missing:
        fail("engine sources not found next to the benchmark: "
             + ", ".join(missing))


def offline_env():
    """sbt resolves only from local caches: offline mode, and the user's
    repositories file when there is one."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles engine + harness; returns (classpath, registry names)."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = digest(source_paths())
    cp_file = os.path.join(WORK, "classpath.txt")
    reg_file = os.path.join(WORK, "registry.txt")
    if read(stamp_file) != stamp or not (os.path.exists(cp_file)
                                         and os.path.exists(reg_file)):
        t0 = time.monotonic()
        log("building engine and harness with sbt ...")
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "build.log"), "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, env=offline_env())
        if rc != 0:
            tail = read(os.path.join(WORK, "build.log"))[-3000:]
            fail(f"sbt build failed (rc={rc}):\n{tail}", 3)
        write(cp_file, read(os.path.join(HERE, "target",
                                         "runtime-classpath.txt")))
        java(read(cp_file), ["--list", reg_file], "2g", timeout=120)
        write(stamp_file, stamp)
        log(f"built in {time.monotonic() - t0:.1f} s")
    return read(cp_file), read(reg_file).split()


def java(cp, args, xmx, timeout, log_file=None, main="perfbench.Harness"):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [exe, f"-Xmx{xmx}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    out = open(log_file, "w") if log_file else subprocess.DEVNULL
    try:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {timeout:.0f} s", 4)
    finally:
        if log_file:
            out.close()
    if rc != 0:
        tail = (read(log_file) or "")[-3000:] if log_file else ""
        fail(f"harness exited with {rc}:\n{tail}", 4)


# ---------------------------------------------------------------- inputs

def ensure_data(scale):
    """Generated input directory for a scale; returns (dir, seconds spent
    generating, or None when reused)."""
    out = os.path.join(WORK, "data", scale)
    stamp_file = out + ".stamp"
    if scale in SCALES:
        stamp = digest([os.path.join(HERE, "gen_data.py")]) + scale
        if read(stamp_file) == stamp:
            return out, None
        t0 = time.monotonic()
        import gen_data
        gen_data.generate(out, SCALES[scale])
    else:  # scale10: 10x key-offset replica of sf0.1
        src, _ = ensure_data("sf0.1")
        script = os.path.join(ROOT, "tools", "make_bench_scale.py")
        stamp = digest([script, src])
        if read(stamp_file) == stamp:
            return out, None
        t0 = time.monotonic()
        rc = subprocess.call([sys.executable, script, src, out, "10"],
                             stdout=subprocess.DEVNULL,
                             stdin=subprocess.DEVNULL)
        if rc != 0:
            fail(f"make_bench_scale.py failed (rc={rc})", 5)
    write(stamp_file, stamp)
    return out, time.monotonic() - t0


def resolve(ids, registry):
    """Registry names for query ids such as `q85`."""
    out = []
    for q in ids:
        if q == LABEL_DATASET:
            out.append(q)
            continue
        hits = [n for n in registry if n.startswith(q + "_")]
        if len(hits) != 1:
            fail(f"query id {q} matches {hits} in the registry")
        out.append(hits[0])
    return out


def stratified_sample(registry, k, rng):
    """One query from each of k strata of the registry ordered by recorded
    cost (perfbench/costs_sf0.01.json), so every seed's sample has about the
    same cost profile. Unrecorded queries rank at the median cost."""
    with open(os.path.join(HERE, "costs_sf0.01.json")) as f:
        cost = json.load(f)
    mid = sorted(cost.values())[len(cost) // 2]
    ranked = sorted(registry, key=lambda q: (cost.get(q, mid), q))
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    return [rng.choice(ranked[bounds[i]:bounds[i + 1]]) for i in range(k)]


def plan_queries(wl, registry, seed, known_defects):
    """The run's query sequence. A sampled workload draws from the registry
    minus the known defects at its scale (they are printed on every run);
    a fixed workload keeps all its queries, known defects included."""
    rng = random.Random(f"{wl['name']}:{seed}")
    qs = (stratified_sample([q for q in registry if q not in known_defects],
                            wl["sample"], rng) if "sample" in wl
          else resolve(wl["queries"], registry))
    rng.shuffle(qs)
    return qs


# ---------------------------------------------------------------- checks

def load_expected(scale):
    path = os.path.join(HERE, "expected", f"{scale}.json")
    with open(path) as f:
        return json.load(f)


def check_outputs(checks, check_dir, scale):
    """Compares check-pass outputs with the stored fingerprints; returns
    {query: reason} for every query that failed or mismatched."""
    import fingerprints  # needs tools/check_oracle.py, checked at start
    expected = load_expected(scale)["queries"]
    bad = {}
    for c in checks:
        q = c["query"]
        if not c["ok"]:
            bad[q] = "exception: " + c["error"]
            continue
        want = expected.get(q)
        if want is None:
            bad[q] = "no expected fingerprint stored"
            continue
        got = fingerprints.of_spark_output(os.path.join(check_dir, q))
        if got != {k: want[k] for k in got}:
            bad[q] = (f"fingerprint mismatch: {got['rows']} rows "
                      f"{got['sha256'][:12]} vs expected {want['rows']} rows "
                      f"{want['sha256'][:12]}")
    return bad


# ---------------------------------------------------------------- run

def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              stdin=subprocess.DEVNULL).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_workload(name, seed, seconds, trace, min_samples, cp, registry):
    wl = dict(WORKLOADS[name], name=name)
    data, gen_s = ensure_data(wl["scale"])
    if wl["scale"] == "scale10":
        print(f"perfbench {name} replica_generation_s "
              + (f"{gen_s:.3f} s" if gen_s is not None else "reused"))
    known = load_expected(wl["scale"])["known_defects"]
    queries = plan_queries(wl, registry, seed, known)
    cores = min(4, os.cpu_count() or 1)
    tag = f"{name}-seed{seed}-trace{trace}"
    run_dir = os.path.join(WORK, "runs", name)
    check_dir = os.path.join(run_dir, "check")
    records = os.path.join(run_dir, "records.jsonl")
    os.makedirs(run_dir, exist_ok=True)
    if name in gated_workloads() and min_samples <= DEFAULT_MIN_SAMPLES:
        max_s, timeout = max(3 * seconds, seconds + 20), RUN_LIMIT_S
    else:  # ungated workloads and long runs (e.g. for query_p90_s)
        max_s, timeout = seconds + 900, seconds + 1500
    if trace:  # traced executions alternate, so two passes trace every query
        min_samples = max(min_samples, 2 * len(queries))
    java(cp, [
        "--data", data, "--queries", ",".join(queries),
        "--hot", "1" if wl["hot"] else "0", "--sink", wl["sink"],
        "--cores", str(cores), "--seconds", str(seconds),
        "--max-seconds", str(max_s),
        "--min-samples", str(min_samples),
        "--trace", str(trace),
        "--check-dir", check_dir, "--loop-dir", os.path.join(run_dir, "loop"),
        "--out", records], wl["xmx"], timeout=timeout,
        log_file=os.path.join(run_dir, "jvm.log"))
    with open(records) as f:
        recs = [json.loads(line) for line in f]
    kind = lambda k: [r for r in recs if r["kind"] == k]  # noqa: E731
    env = kind("env")[0]
    setup = kind("setup")[0]
    loop = kind("loop")[0]
    samples = kind("sample")
    bad = check_outputs(kind("check"), check_dir, wl["scale"])
    e2e = m.end_to_end(samples, loop["timed_s"], bad)
    stamp = {
        "workload": name, "seed": seed, "trace": trace, "scale": wl["scale"],
        "cores": env["cores"], "available_processors":
            env["available_processors"], "xmx_mb": env["xmx_mb"],
        "spark": env["spark"], "jdk": env["jdk"], "scala": env["scala"],
        "commit": git_commit() or "none",
        "source_digest": digest(source_paths())[:16],
        "samples": len(samples), "distinct_queries": len(set(queries)),
        "timed_s": round(loop["timed_s"], 3)}
    print("perfbench env " + " ".join(f"{k}={v}" for k, v in stamp.items()))
    print(f"perfbench {name} queries {','.join(queries)}")
    for q, why in sorted(bad.items()):
        print(f"perfbench {name} FAILED {q}: {why}")
    for q in sorted(known):
        if "sample" in wl or q in queries:
            print(f"perfbench {name} known defect {q} at {wl['scale']}"
                  + ("" if q in queries else " (not sampled)")
                  + "; see perfbench/NOTES.md")

    n = len(samples)
    lines = [("setup_s", setup["total_s"], "s", ", ".join(
        f"{k} {setup[k]:.3f}" for k in ("session_s", "cache_s", "warmup_s",
                                        "check_s")))]
    for key, p in (("query_p50_s", 0.5), ("query_p90_s", 0.9)):
        v = e2e[key]
        note = (f"n={n}" if v is not None else
                f"not reported: n={n}, needs {m.min_samples(p)} "
                f"(at least {m.MIN_BEYOND} samples beyond it)")
        lines.append((key, v, "s", note))
    lines += [
        ("queries_per_s", e2e["queries_per_s"], "1/s",
         f"{n - e2e['failed']} completed in {loop['timed_s']:.3f} s "
         f"at {wl['scale']}"),
        ("failed_frac", e2e["failed_frac"], "ratio",
         f"{e2e['failed']} of {n} attempted"),
        ("peak_storage_mb", loop["peak_storage_mb"], "MB",
         "hot tables plus pins, sampled after each sink")]
    result = {"stamp": stamp, "failures": bad, "end_to_end": {}}
    for key, v, unit, note in lines:
        shown = "n/a" if v is None else ("miss" if v == math.inf else f"{v:.6g}")
        print(f"perfbench {name} {key} {shown} {unit} ({note})")
        if v is not None and v != math.inf:
            result["end_to_end"][key] = {"value": v, "unit": unit}

    if trace:
        result["per_layer"], result["per_query"] = traced_metrics(
            name, wl, recs, samples, cores)
        for k, v in result["per_layer"].items():
            print(f"perfbench {name} {k} {v['value']:.6g} {v['unit']}")
    write(os.path.join(WORK, "results", tag + ".json"),
          json.dumps(result, indent=1))
    return e2e, result


def traced_metrics(name, wl, recs, samples, cores):
    traces = [r for r in recs if r["kind"] == "trace" and "build_s" in r]
    walls = {s["i"]: s["wall_s"] for s in samples}
    if wl["sink"] == "noop":  # the io layer runs in the check pass only
        io = [(c["sink_s"], c["output_mb"], c["output_files"])
              for c in recs if c["kind"] == "check" and c["ok"]]
    else:
        io = [(t["exec_s"], t["output_mb"], t["output_files"]) for t in traces]
    unattributed = sum(r["jobs"] for r in recs if r["kind"] == "unattributed")
    layer = m.per_layer(traces, walls, [r for r in recs if r["kind"] == "tables"],
                        io, samples, cores, unattributed)
    per_query = {}
    for t in traces:
        per_query.setdefault(t["query"], []).append(t)
    print(f"perfbench {name} per-query trace (medians over traced runs; "
          "residual = wall - build - plan - exec):")
    print(f"  {'query':34} {'n':>3} {'wall_s':>8} {'build_s':>8} "
          f"{'plan_s':>8} {'exec_s':>8} {'resid_s':>8} {'exch':>5} "
          f"{'bjobs':>5} {'jobs':>5} {'pins':>4}")
    table = {}
    for q, ts in sorted(per_query.items()):
        row = {"n": len(ts), "wall_s": m.median([walls[t["i"]] for t in ts])}
        for k in ("build_s", "plan_s", "exec_s"):
            row[k] = m.median([t[k] for t in ts])
        row["residual_s"] = m.median([m.residual_s(t, walls[t["i"]])
                                      for t in ts])
        for k in ("exchanges", "build_jobs", "jobs", "pins"):
            row[k] = m.median([t[k] for t in ts])
        table[q] = row
        print(f"  {q:34} {row['n']:>3} {row['wall_s']:8.4f} "
              f"{row['build_s']:8.4f} {row['plan_s']:8.4f} "
              f"{row['exec_s']:8.4f} {row['residual_s']:8.4f} "
              f"{row['exchanges']:>5g} {row['build_jobs']:>5g} "
              f"{row['jobs']:>5g} {row['pins']:>4g}")
    units = m.PER_LAYER_UNITS
    return {k: {"value": v, "unit": units[k]} for k, v in layer.items()}, table


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--min-samples", type=int, default=DEFAULT_MIN_SAMPLES,
                    help="keep looping past --seconds until this many "
                         "samples ran (20 reports p50, 100 reports p90)")
    a = ap.parse_args()
    check_sources()
    gated = benchmark_metrics()
    cp, registry = build()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    attempted = failed = 0
    out = {}
    for name in names:
        e2e, result = run_workload(name, a.seed, a.seconds, a.trace,
                                   a.min_samples, cp, registry)
        attempted += e2e["attempted"]
        failed += e2e["failed"]
        got = result["per_layer"] if a.trace else result["end_to_end"]
        wanted = gated[a.trace]
        if len(names) == 1:
            missing = [k for k in wanted if k not in got]
            if missing:
                fail(f"metrics not measured in this run: {missing}", 6)
            out = {k: got[k] for k in wanted}
        else:
            out.update({f"{name}.{k}": v for k, v in got.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def benchmark():
    text = read(os.path.join(ROOT, "BENCHMARK.json"))
    if text is None:
        fail("BENCHMARK.json not found at the repository root")
    return json.loads(text)


def benchmark_metrics():
    """Metric names BENCHMARK.json gates: {trace: [names]}."""
    b = benchmark()
    return {0: [x["name"] for x in b["end_to_end"]],
            1: [x["name"] for x in b["per_layer"]]}


def gated_workloads():
    """Workloads in BENCHMARK.json: their runs must end within 180 s."""
    return {w["name"] for w in benchmark()["workloads"]}


if __name__ == "__main__":
    main()
