#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sbt, once per source state),
generates the workload's inputs from the seed, runs the harness JVM (session
start and an untimed warm pass, then timed passes for --seconds), checks every
output against its DuckDB oracle, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Everything the run writes stays under .perfbench_work/ at the
root of the checkout. --record FILE also appends the run, with its seed and
every pass, to FILE (the input of compare.py).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DEADLINE_S = 170  # a run ends within 180 s; the build has its own limit
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed program rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(*opts):
    return (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + list(opts))


def build():
    """Compiles program + harness (sbt) and builds a class-data-sharing
    archive of the Spark jars from a training run, once per source state.
    Returns the JVM options that select the classpath and the archive."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no graft sources next to the benchmark (expected build.sbt and src/main/scala/graft)", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    stamp = source_stamp()
    cp_file, stamp_file, jsa = HERE / "target" / "classpath.txt", WORK / "build.stamp", WORK / "app.jsa"
    if not (cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp):
        WORK.mkdir(parents=True, exist_ok=True)
        stamp_file.unlink(missing_ok=True)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():  # an offline image resolves through its own repository list
            cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(WORK / "build.log", "w") as log:
            rc = subprocess.run(cmd + ["stageClasspath"], cwd=HERE, stdout=log,
                                stderr=subprocess.STDOUT, env=env, timeout=600).returncode
        if rc != 0 or not cp_file.is_file():
            fail(f"build failed (see {WORK / 'build.log'})", 3)
        # Jars first: the archive covers the jar prefix of the classpath, and
        # no class of the program or harness directories is in a jar.
        parts = cp_file.read_text().strip().split(os.pathsep)
        jars = [p for p in parts if p.endswith(".jar")]
        (WORK / "classpath.txt").write_text(os.pathsep.join(jars + [p for p in parts if p not in jars]))
        train_archive(os.pathsep.join(jars))
        stamp_file.write_text(stamp)
    opts = ["-cp", (WORK / "classpath.txt").read_text()]
    return opts + ([f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"] if jsa.is_file() else [])


def train_archive(jars):
    """One warm pass of every workload records the classes a run loads; the
    archive of those classes cuts JVM and session start-up for every run."""
    train = WORK / "train"
    shutil.rmtree(train, ignore_errors=True)
    for w in gen.WORKLOADS:
        gen.generate(w, 0, str(train / w))
    (WORK / "app.jsa").unlink(missing_ok=True)
    classes = WORK / "classes.lst"
    with open(WORK / "train.log", "w") as log:
        subprocess.run(java_cmd("-Xmx2g", f"-XX:DumpLoadedClassList={classes}",
                                *jvm_props(train), "-cp", (WORK / "classpath.txt").read_text(),
                                "perfbench.Main", "train", str(train), "4"),
                       cwd=train, stdout=log, stderr=subprocess.STDOUT, timeout=300)
        if classes.is_file():
            subprocess.run(java_cmd("-Xshare:dump", f"-XX:SharedClassListFile={classes}",
                                    f"-XX:SharedArchiveFile={WORK / 'app.jsa'}", "-cp", jars),
                           cwd=train, stdout=log, stderr=subprocess.STDOUT, timeout=300)
    shutil.rmtree(train, ignore_errors=True)


def jvm_props(work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def run_jvm(jvm_opts, workload, data, work, seconds, trace, cores, budget):
    result = work / "result.json"
    cmd = java_cmd("-Xmx2g", *jvm_props(work), *jvm_opts, "perfbench.Main", workload,
                   str(data), str(work), str(seconds), str(trace), str(cores), str(result))
    with open(work / "jvm.log", "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                timeout=budget).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {budget:.0f} s (see {work / 'jvm.log'})", 4)
    if rc != 0 or not result.is_file():
        fail(f"harness exited with {rc} (see {work / 'jvm.log'})", 4)
    return json.loads(result.read_text())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    i = q * (len(s) - 1)
    lo = int(i)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (i - lo)


def latencies(res, passes, kinds=None):
    """{group: [latency per pass]} of the operations in `passes`; a group's
    latency in a pass is the sum of its calls."""
    acc = {}
    for o in res["ops"]:
        if o["pass"] in passes and (kinds is None or o["kind"] in kinds):
            by_pass = acc.setdefault(o["group"], {})
            by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["seconds"]
    return {g: list(v.values()) for g, v in acc.items()}


def samples(lat):
    return [x for v in lat.values() for x in v]


def summarize(res, failures, negative_ok, trace, spec):
    """The run's result line. End-to-end timings use the untraced timed
    passes, and each takes the fastest of them: the first timed pass still
    carries JIT warm-up and every pass can meet a slow spell of the host."""
    attempted = len(res["ops"])
    bad_ops = {(o["pass"], o["group"]) for o in res["ops"] if not o["ok"]}
    bad_ops |= set(failures)
    failed = min(len(bad_ops), attempted)
    correct = failed == 0 and negative_ok and len(res["checks"]) > 0

    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    plain_ids = {p["pass"] for p in plain}
    best = [min(v) for v in latencies(res, plain_ids).values()]
    values = {
        "setup_s": res["setup_s"],
        "wall_s": min(p["wall_s"] for p in plain),
        "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in best)),
        "heap_peak_mb": res["heap_peak_mb"],
        "stored_bytes_per_input_byte":
            min(p["facts"]["stored_bytes"] / p["facts"]["input_bytes"] for p in plain),
    }
    if trace:
        lat = lambda *kinds: samples(latencies(res, plain_ids, set(kinds)))  # noqa: E731
        queries = lat("query")
        state = min((p["facts"].get("cluster.state_bytes", 0) + p["facts"].get("span.state_bytes", 0))
                    / p["facts"]["input_bytes"] for p in plain)
        values = dict(res["layers"])
        values.update({
            "trace.overhead_s": median([p["wall_s"] for p in timed if p["traced"]])
                                - median([p["wall_s"] for p in plain]),
            "workload.op_p50_s": median(samples(latencies(res, plain_ids))),
            "workload.job_p50_s": median(queries),
            "workload.job_p75_s": quantile(queries, 0.75),
            "workload.cluster_fold_p50_s": median(lat("cluster_fold")),
            "workload.span_fold_p50_s": median(lat("span_fold")),
            "workload.state_read_p50_s": median(lat("cluster_read", "span_read")),
            "workload.microbatch_p50_s": median(lat("wave")),
            "workload.state_bytes_per_input_byte": state,
            "workload.error_rate": failed / attempted if attempted else 0.0,
        })
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append this run to a JSON-lines record file")
    args = ap.parse_args()
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the checkout root", 2)
    spec = json.loads(spec_file.read_text())
    if args.workload not in gen.WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(gen.WORKLOADS)}", 2)

    jvm_opts = build()
    t_run = time.time()  # the build, on a checkout's first run, has its own limit
    work = WORK / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    manifest = gen.generate(args.workload, args.seed, str(data))
    cores = min(4, len(os.sched_getaffinity(0)))
    res = run_jvm(jvm_opts, args.workload, data, work, args.seconds, args.trace, cores,
                  DEADLINE_S - (time.time() - t_run))
    failures, negative_ok = oracle.check_all(res)
    for (p, name), why in sorted(failures.items()):
        print(f"perfbench: pass {p} {name}: {why}", file=sys.stderr)
    if not negative_ok:
        print("perfbench: the comparison did not flag a perturbed result", file=sys.stderr)
    out = summarize(res, failures, negative_ok, args.trace, spec)
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, "seconds": args.seconds,
                                "params": manifest["params"], "passes": res["passes"],
                                "result": out}) + "\n")
    if args.trace:
        trace_file = work / "result.trace.json"
        keep = WORK / "traces" / f"{res['run_id']}.json"
        keep.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(trace_file, keep)
        print(f"perfbench: spans written to {keep}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
