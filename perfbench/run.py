#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (sbt, into
the checkout), generates the workload's inputs from the seed, runs the
benchmark JVM, checks its outputs, and prints one JSON object as the last
line of standard output: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the span tree is written to
perfbench/.work/trace.json.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(HERE, ".build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main")
JVM_DEADLINE_S = 165

# Per workload: generated input size; the untimed warm-up passes its JIT
# needs before pass times level off; and the passes a run must time at
# least, so that the tail percentile (see tail_of) has ten samples beyond it.
WORKLOADS = {
    "reserve_mc": dict(sf=0.001, files=4, policies=2000, sims=10000,
                       warmup=1, min_passes=5),
    "curation_dedup": dict(sf=0.01, warmup=4, min_passes=5, queries=[
        "q41_ngram_jaccard", "q44_dedup_clusters", "q45_curate_corpus", "q135_containment",
        "q149_split_leakage"]),
    "lakehouse_write": dict(sf=0.01, warmup=4, min_passes=3),
}
# The commits, deletes, compactions, stream drain and read-backs of one
# lakehouse pass (Lakehouse.pass in Workloads.scala).
LAKEHOUSE_OPS = 18
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark, then make the class-data
    archive every measured run maps; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspathAsJars"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840,
                       stdin=subprocess.DEVNULL)
    sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    train(lines[-1])
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def train(classpath):
    """Untimed run of one pass of every workload at a small size, in a JVM
    that writes the classes it loaded to ARCHIVE at exit. Every measured
    run maps the archive, so all of them start the JVM the same way."""
    log("writing the class-data archive")
    work = os.path.join(BUILD, "train")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(inputs, 0, 0.01, 2, 100)
    sizes = {"reserve_mc": {"files": 2, "policies": 100, "sims": 1000},
             "curation_dedup": {"queries": ",".join(WORKLOADS["curation_dedup"]["queries"])},
             "lakehouse_write": lakehouse_params(0)}
    jobs = []
    for name, params in sizes.items():
        jobs.append(os.path.join(work, f"{name}.properties"))
        write_job(jobs[-1], {"workload": name, "seed": 0, "cores": len(os.sched_getaffinity(0)),
                             "inputs": inputs, "work": work}, params)
    run_jvm(classpath, ["-XX:ArchiveClassesAtExit=" + ARCHIVE, "perfbench.Train"] + jobs,
            os.path.join(work, "jvm.log"), work)
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        log("this JVM wrote no class-data archive; runs start without one")


def write_job(path, job, params):
    with open(path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in job.items())
        fh.writelines(f"param.{k}={v}\n" for k, v in params.items())


def ops_per_pass(name):
    cfg = WORKLOADS[name]
    if name == "reserve_mc":
        return cfg["files"] + 1  # one simulate op per file, then the gather
    if name == "curation_dedup":
        return len(cfg["queries"])
    return LAKEHOUSE_OPS


def tail_of(name):
    """The workload's tail percentile: the highest with at least ten
    samples beyond it at the minimum sample count of a run."""
    return metrics.tail_percentile(WORKLOADS[name]["min_passes"] * ops_per_pass(name))


def lakehouse_params(seed):
    """The seeded slice and predicates of the lakehouse commits."""
    rng = random.Random(seed)
    langs = checks.LANGS[:]
    rng.shuffle(langs)
    mD = rng.choice([7, 9, 11])
    return {"lo": rng.randrange(0, 50), "mU": rng.choice([3, 4, 5]),
            "mD": mD, "rD": rng.randrange(mD), "mI": rng.choice([40, 50, 60]),
            "m5": rng.choice([5, 6, 7]), "delLang": langs[0],
            "langsA": ",".join(langs[:2]), "langsB": ",".join(langs[2:4])}


def lakehouse_user_bytes(inputs, p):
    """Logical bytes (16 per row plus the lang string) that one pass's
    inserts and merge sources hand to the tables: the base of write_amp."""
    import duckdb
    con = duckdb.connect()

    def b(where):
        return con.execute(f"SELECT COALESCE(SUM(16 + length(lang)), 0) FROM "
                           f"read_parquet('{inputs}/documents.parquet') WHERE {where}").fetchone()[0]
    langs = ",".join(f"'{x}'" for x in (p["langsA"] + "," + p["langsB"]).split(","))
    return (4 * b(f"doc_id >= {p['lo']}") + 2 * b(f"doc_id >= {p['lo']} AND doc_id % {p['mU']} = 0")
            + 2 * b(f"doc_id % {p['mI']} = 0") + b(f"lang IN ({langs})"))


def generate(inputs, seed, cfg):
    """Generate the inputs; return the seconds it took."""
    shutil.rmtree(inputs, ignore_errors=True)
    t0 = time.perf_counter()
    gen.generate(inputs, seed, cfg["sf"], cfg.get("files", 0), cfg.get("policies", 0))
    return time.perf_counter() - t0


def cpu_stat():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, args, log_file, cwd):
    """Run the benchmark JVM to its end; on any way out of here, including
    a signal, its whole process group is killed and waited for."""
    archive = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"] + archive
           + [f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath] + args)
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=cwd,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("benchmark JVM exceeded its deadline")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_file) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a signal ends the run through run_jvm's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        raise SystemExit("library source not found next to the benchmark")
    cfg = WORKLOADS[a.workload]
    classpath = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    inputs = os.path.join(WORK, "inputs")
    gen_s = generate(inputs, a.seed, cfg)
    cores = len(os.sched_getaffinity(0))
    if a.workload == "reserve_mc":
        params = {k: cfg[k] for k in ("files", "policies", "sims")}
    elif a.workload == "lakehouse_write":
        params = lakehouse_params(a.seed)
        params["userBytes"] = lakehouse_user_bytes(inputs, params)
    else:
        params = {"queries": ",".join(cfg["queries"])}
    out_file = os.path.join(WORK, "raw.json")
    job = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "cores": cores, "inputs": inputs, "work": WORK, "out": out_file,
           "warmup": cfg["warmup"], "min_passes": cfg["min_passes"]}
    job_file = os.path.join(WORK, "job.properties")
    write_job(job_file, job, params)

    steal0, total0 = cpu_stat()
    run_jvm(classpath, ["perfbench.Main", job_file], os.path.join(WORK, "jvm.log"), WORK)
    steal1, total1 = cpu_stat()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    with open(out_file) as fh:
        raw = json.load(fh)
    tail = tail_of(a.workload)
    if any(len(p["ops"]) != ops_per_pass(a.workload) for p in raw["passes"]):
        raise SystemExit(f"a pass did not run the {ops_per_pass(a.workload)} ops tail_of assumes")

    if a.workload == "reserve_mc":
        wrong = checks.reserve_checker(inputs, cfg["sims"])
    elif a.workload == "lakehouse_write":
        wrong = checks.lakehouse_checker(inputs, params)
    else:
        wrong = checks.query_checker(checks.oracle_results(
            ROOT, inputs, os.path.join(WORK, "check"), raw["checks"]))
    counted = [op for p in raw["passes"] if bool(p["traced"]) == bool(a.trace) for op in p["ops"]]
    attempted, failed = metrics.count_errors(counted, wrong)
    for op in counted:
        if op.get("error"):
            log(f"{op['name']} threw {op['error']}")

    n_samples = sum(len(p["ops"]) for p in raw["passes"] if not p["traced"])
    stamp = {"workload": a.workload, "seed": a.seed, "nproc": cores, "commit": git_commit(),
             "java": raw["java_version"], "spark": raw["spark_version"],
             "host.steal_pct": steal_pct, "op_samples": n_samples,
             "tail_percentile": tail, "gen_s": gen_s,
             "passes": sum(1 for p in raw["passes"] if not p["traced"])}
    if a.trace:
        vals = metrics.per_layer(raw, failed / attempted, steal_pct)
        units = metrics.PER_LAYER
        with open(os.path.join(WORK, "spans.json")) as fh:
            spans = json.load(fh)
        selfs = metrics.self_times(spans)
        for s in spans:
            s["selfMs"] = selfs[s["id"]]
        with open(os.path.join(WORK, "trace.json"), "w") as fh:
            json.dump({"stamp": stamp, "spans": spans}, fh)
    else:
        vals = metrics.end_to_end(raw, gen_s, tail)
        units = metrics.END_TO_END
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units}}
    with open(os.path.join(WORK, "result.json"), "w") as fh:
        json.dump({"stamp": stamp, **result}, fh, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
