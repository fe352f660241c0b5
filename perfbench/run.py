#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload <hive_pipeline|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM harness from source on first use (sbt, offline),
generates the seeded inputs, runs the workload on a fresh JVM and prints one
JSON object as the last line of standard output. See README.md.

    python3 perfbench/run.py --record
re-records the reference fingerprints of the operations that have no oracle
(reference.json).
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from bench import gen, mix, oracle, stats  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
BUILD_DEADLINE_S = 840
TABLE_SEED, TABLE_SF = 42, 0.1
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "jvm", "src", "main"), os.path.join(HERE, "jvm", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "jvm", "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile engine + harness with sbt unless this source tree is built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine source tree is missing; nothing to build")
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "jvm", "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         BUILD_DEADLINE_S, cwd=os.path.join(HERE, "jvm"), env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), stamp


def generator_stamp():
    """Hash of the input generator, so its inputs are remade when it changes."""
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


def ensure(dir_path, make):
    """Generate inputs once per checkout; a marker file means complete.
    Callers put every generator parameter and ``generator_stamp()`` into
    ``dir_path``, so a directory always holds what the generator makes."""
    marker = os.path.join(dir_path, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(dir_path, ignore_errors=True)
        result = make(dir_path)
        with open(marker, "w") as f:
            json.dump(result, f)
    with open(marker) as f:
        return json.load(f)


def inputs(workload, seed):
    """(data dir, sensor rows per pass) for a workload and seed."""
    if workload == "hive_pipeline":
        variant = seed % mix.HIVE_VARIANTS
        size = "x".join(str(v) for v in mix.HIVE_SIZE.values())
        d = os.path.join(WORK, f"hive-v{variant}-{size}-{generator_stamp()}")
        rows = ensure(d, lambda p: gen.write_hive(p, seed=1000 + variant, **mix.HIVE_SIZE))
        return d, rows
    d = os.path.join(WORK, f"tables-sf{TABLE_SF}-s{TABLE_SEED}-{generator_stamp()}")
    ensure(d, lambda p: gen.write_tables(p, seed=TABLE_SEED, sf=TABLE_SF))
    return d, 0


def load_reference():
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def run_jvm(classpath, plan, deadline):
    """Run the harness on a fresh JVM; returns its result with ``setup_s``,
    the seconds from the process launch to the end of its set-up."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    plan_file = os.path.join(WORK, "plan.txt")
    with open(plan_file, "w") as f:
        for k, v in plan.items():
            f.write(f"{k}={v}\n")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", f"-Djava.io.tmpdir={WORK}/tmp",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE}/jvm/log4j2.properties", "-cp", classpath, "perfbench.Main", plan_file])
    env = dict(os.environ, GRAFT_TMP_ROOT=os.path.join(WORK, "tmp"))
    env.pop("SPARK_GRAFT_CATALOG", None)
    if os.path.exists(plan["out"]):
        os.remove(plan["out"])
    with open(os.path.join(WORK, "jvm.log"), "w") as out:
        launched = time.time()
        rc = run_bounded(cmd, max(10, deadline - time.time()), cwd=WORK, env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(plan["out"]):
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {rc}")
    with open(plan["out"]) as f:
        res = json.load(f)
    res["setup_s"] = res["setup_done_ms"] / 1e3 - launched
    return res


def oracle_cache(stamp):
    """This source tree's oracle verdicts, {op: verdict}: the validated
    warm-up fingerprint, "NO_ORACLE", or "FAIL <reason>"."""
    path = os.path.join(WORK, f"oracle-{stamp}.json")
    return path, (json.load(open(path)) if os.path.exists(path) else {})


def expected_fingerprints(workload, variant, stamp, ref):
    """{op: the fingerprint its result must have, or None if it has none},
    for every operation whose reference is known before the run."""
    if workload == "hive_pipeline":
        return dict(ref["hive_pipeline"].get(f"v{variant}", {}))
    _, cache = oracle_cache(stamp)
    return {op: None if v.startswith("FAIL") else ref["queries"].get(op) if v == "NO_ORACLE" else v
            for op, v in cache.items()}


def validate_dumped(res, stamp, data_dir, dumped):
    """Compare the dumped warm-up results with DuckDB and cache the
    verdicts for this source tree."""
    path, cache = oracle_cache(stamp)
    warm, errors = res["warmup"], res["warmup_errors"]
    dump = os.path.join(WORK, "dump")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sql = json.load(f)
    with_sql = [op for op in dumped if op in sql and op in warm]
    verdict = oracle.check(data_dir, dump, with_sql)
    for op in dumped:
        if op in with_sql:
            cache[op] = warm[op] if verdict[op] is None else "FAIL " + verdict[op]
        else:
            cache[op] = "FAIL " + errors[op] if op in errors else "NO_ORACLE"
    with open(path, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)


def verdicts(res, expected):
    """{op: True if its results are checked correct}, and failure reasons.
    Timed executions were compared in the JVM with the expected fingerprint
    (or the warm-up's); here the warm-up itself meets the reference."""
    warm, errors = res["warmup"], res["warmup_errors"]
    ok, why = {}, {}
    for op in set(expected) | set(warm) | set(errors):
        if op in errors:
            ok[op], why[op] = False, errors[op]
        elif expected.get(op) is None:
            ok[op], why[op] = False, "no reference"
        elif op in warm and warm[op] != expected[op]:
            ok[op], why[op] = False, f"reference {expected[op]} != warm-up {warm[op]}"
        else:
            ok[op] = True
    return ok, why


def plan_for(workload, seed, seconds, trace, data_dir, expected, dump_ops):
    """The JVM's plan and the operation list. The seed orders the query
    list; a pipeline pass keeps its call order."""
    order = list(mix.HIVE_STEPS if workload == "hive_pipeline" else mix.QUERY_MIX)
    if workload != "hive_pipeline":
        random.Random(seed).shuffle(order)
    # a batch pipeline runs once per process: hive_pipeline times its first,
    # cold pass, except in a traced run, whose two halves must compare alike
    warmup = 1 if workload != "hive_pipeline" or trace or dump_ops else 0
    plan = {
        "workload": workload, "work": WORK, "data": data_dir,
        "seconds": seconds, "trace": trace, "warmup": warmup,
        "ops": ",".join(order), "out": os.path.join(WORK, "result.json"),
        "dump": os.path.join(WORK, "dump") if dump_ops else "",
        "dump_ops": ",".join(dump_ops),
    }
    for op, fp in expected.items():
        if fp is not None:
            plan[f"expect.{op}"] = fp
    return plan, order


def run(workload, seed, seconds, trace):
    start = time.time()
    classpath, stamp = build()
    deadline = time.time() + DEADLINE_S
    data_dir, rows = inputs(workload, seed)
    variant = seed % mix.HIVE_VARIANTS
    expected = expected_fingerprints(workload, variant, stamp, load_reference())
    dump_ops = [] if workload == "hive_pipeline" else \
        [op for op in mix.QUERY_MIX if op not in expected]
    shutil.rmtree(os.path.join(WORK, "dump"), ignore_errors=True)
    plan, order = plan_for(workload, seed, seconds, trace, data_dir, expected, dump_ops)
    res = run_jvm(classpath, plan, deadline)
    if dump_ops:
        validate_dumped(res, stamp, data_dir, dump_ops)
        expected = expected_fingerprints(workload, variant, stamp, load_reference())
    warm_ok, why = verdicts(res, expected)
    for op, reason in sorted(why.items()):
        log(f"FAILED {op}: {reason}")
    for op, reason in sorted(res["mismatch"].items()):
        log(f"FAILED {op} (timed run): {reason}")
    group = len(mix.HIVE_STEPS) if workload == "hive_pipeline" else 1
    ops = stats.operations(res["samples"], warm_ok, group)
    failed = sum(1 for _, ok in ops if not ok)
    if trace:
        metrics = stats.per_layer(res, warm_ok, group, order, mix.TAGS, mix.MODULES, rows)
        units = mix.PER_LAYER_UNITS
        with open(os.path.join(WORK, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump({"layers": res["layers"], "spans": res["spans"], "metrics": metrics}, f,
                      indent=1, sort_keys=True)
    else:
        metrics, _, _ = stats.end_to_end(res, warm_ok, group)
        units = mix.END_TO_END_UNITS
    log(f"{workload} seed={seed}: {len(ops)} operations, {failed} failed, "
        f"{time.time() - start:.1f}s wall")
    return {
        "correct": failed == 0 and all(warm_ok.get(op, False) for op in order),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def record():
    """Re-record reference.json: the fingerprints of query operations that
    have no oracle SQL, and of every hive_pipeline input variant."""
    classpath, stamp = build()
    ref = {"queries": {}, "hive_pipeline": {}}
    jobs = [("query_mix", 0)] + [("hive_pipeline", v) for v in range(mix.HIVE_VARIANTS)]
    for workload, seed in jobs:
        data_dir, _ = inputs(workload, seed)
        dump = list(mix.QUERY_MIX) if workload == "query_mix" else []
        plan, _ = plan_for(workload, seed, 0, 0, data_dir, {}, dump)
        plan["warmup"] = 1
        res = run_jvm(classpath, plan, time.time() + 600)
        for op, e in res["warmup_errors"].items():
            log(f"warm-up error {op}: {e}")
        if workload == "query_mix":
            with open(os.path.join(WORK, "dump", "oracle_sql.json")) as f:
                with_sql = json.load(f)
            ref["queries"] = {op: fp for op, fp in res["warmup"].items() if op not in with_sql}
        else:
            ref["hive_pipeline"][f"v{seed}"] = res["warmup"]
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    # a terminated run still stops and waits for its sbt or JVM child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=mix.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.record:
        record()
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
