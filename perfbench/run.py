#!/usr/bin/env python3
"""graft benchmark: one command that runs a seeded workload against graft's
public functions, checks every output and prints each metric by name with
its unit.

    python3 perfbench/run.py --workload <wordcount|ship|query_mix|stream>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the harness (graft's
sources plus perfbench/src) with sbt; inputs are generated from the seed and
cached under .bench_work/inputs. With --trace 0 it prints the end-to-end
metrics; with --trace 1 it runs a traced session and prints the per-layer
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The line before it is the box
record (cores, memory, JDK, Spark, control loop time) of the run.
"""
import argparse
import glob
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

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170
BUILD_DEADLINE_S = 880
SHIP_TARGET_BYTES = 256 << 10  # Main.ShipTargetBytes
JVM_HEAP = "4g"
# Class-data archive of the harness JVM, recorded once per build by a
# setup-only JVM; every run maps it and starts about 3 s faster.
CDS_ARCHIVE = "classes.jsa"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


T0 = time.monotonic()


def log(msg):
    print(f"perfbench [{time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build


def source_stamp(root):
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work, deadline):
    """Package the harness jar (once per source state). A rebuild drops the
    class-data archive made from the previous jar."""
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root)
    jars = glob.glob(os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_*.jar"))
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and jars:
        return jars[0], False
    for old in jars + [os.path.join(work, CDS_ARCHIVE)]:
        if os.path.exists(old):
            os.remove(old)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own global state goes under the work dir, so a build writes only
    # inside the checkout; the toolchain caches are only read.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(work, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(work, 'ivy')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(work, "build.log")
    with open(log_path, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=max(60, deadline - time.monotonic()))
    jars = glob.glob(os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_*.jar"))
    if p.returncode != 0 or not jars:
        fail(f"harness build failed (see {log_path})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jars[0], True


def spark_home():
    """SPARK_HOME, or the first Spark installation with a bin/spark-submit
    on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


# ------------------------------------------------------------------ run


def run_jvm(jar, main_args, run_dir, cds, deadline, archive=False):
    """Run the harness JVM with `main_args`; return its run record. With
    `archive`, record the class-data archive `cds` at exit instead of
    mapping it."""
    result = os.path.join(run_dir, "result.json")
    cds_flags = ([f"-XX:ArchiveClassesAtExit={cds}"] if archive else
                 [f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds) else [])
    cmd = (["java", f"-Xmx{JVM_HEAP}"] + cds_flags +
           ["-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", f"{jar}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}", "perfbench.Main"] +
           [str(a) for a in main_args] + [run_dir, result])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out (see {log_path})", 3)
    if code != 0 or (not archive and not os.path.exists(result)):
        fail(f"harness exited with {code} (see {log_path})", 3)
    if archive:
        return None
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else None


def run_checks(args, rec, in_dir, truth):
    cycles = rec["cycles"]
    if args.workload == "wordcount":
        return check.check_wordcount(cycles, truth)
    if args.workload == "ship":
        return check.check_ship(cycles, truth, in_dir, rec["extra"]["ship_reference"],
                                SHIP_TARGET_BYTES)
    if args.workload == "query_mix":
        return check.check_query_mix(cycles, in_dir, rec["extra"]["oracle_sql"])
    return check.check_stream(cycles)


def ops_per_cycle(workload, cycle):
    """How many checked ops one cycle contributes."""
    if workload == "query_mix":
        return len(cycle["ops"])
    if workload == "stream":
        return 4
    return 1


def input_rows(workload, in_dir, truth):
    if workload == "wordcount":
        return truth["tokens"] // gen.WORDS_PER_LINE
    if workload == "query_mix":
        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(p).metadata.num_rows
                   for p in glob.glob(os.path.join(in_dir, "*.parquet")))
    return truth["rows"]


def end_to_end(workload, rec, ok_cycles, in_dir, truth):
    """The user-facing metrics from correct cycles only: a wrong result is
    never reported as a time."""
    setup = median([s["session_s"] + s["warmup_s"] for s in rec["setups"]])
    cold = [c for c in ok_cycles if c["cycle"] == 0]
    warm = [c for c in ok_cycles if c["cycle"] > 0]
    wall = median([c["seconds"] for c in warm])
    if workload == "stream":
        op_lat = [ms / 1e3 for c in warm for op in c["ops"] for ms in op["trigger_ms"]]
    else:
        op_lat = [op["seconds"] for c in warm for op in c["ops"]]
    in_bytes = gen.input_bytes(in_dir)
    rows = (median([sum(op["rows"] for op in c["ops"]) for c in warm])
            if workload == "stream" else input_rows(workload, in_dir, truth))
    first = rec["cycles"][0]
    vals = {
        "setup_s": setup,
        "wall_s": wall,
        "cold_s": cold[0]["seconds"] if cold else None,
        "op_p50_s": median(op_lat),
        "mb_per_s": in_bytes / 2**20 / wall if wall else None,
        "rows_per_s": rows / wall if wall and rows else None,
        "write_amp": first["written"] / in_bytes,
    }
    return vals


def per_layer(workload, rec, results, truth, gen_s):
    vals = {name: 0.0 for name in metrics.units(True)}
    vals.update(rec["layers"])
    cycles = rec["cycles"]
    vals["bench.session_s"] = median([s["session_s"] for s in rec["setups"]])
    vals["bench.warmup_s"] = median([s["warmup_s"] for s in rec["setups"]])
    vals["bench.inputgen_s"] = gen_s
    vals["bench.evict_s"] = sum(c.get("evict_s", 0.0) for c in cycles)
    vals["bench.clear_cache_s"] = sum(op.get("clear_s", 0.0) for c in cycles for op in c["ops"])
    vals["bench.ops"] = len(results)
    vals["bench.fail_ratio"] = sum(1 for r in results if not r[1]) / max(1, len(results))
    vals["jvm.rss_peak_mb"] = rec["rss_peak_mb"]
    if workload == "ship":
        out = cycles[0]["ops"][0]["out"]
        vals["Ship.files_out"] = sum(check.shipped(out)[1].values())
        (vals["Dedup.planted_exact_removed"], vals["Dedup.planted_exact_base"],
         vals["Dedup.planted_near_removed"], vals["Dedup.planted_near_base"]) = \
            check.planted_removed(out, truth)
    if workload == "stream":
        ops = [op for c in cycles for op in c["ops"]]
        for twin in metrics.TWINS:
            mine = [op for op in ops if op["name"] == twin]
            p = f"TextStreams.{twin}"
            trig = [ms for op in mine for ms in op["trigger_ms"]]
            vals[f"{p}.rows_per_s"] = sum(op["rows"] for op in mine) / sum(op["seconds"] for op in mine)
            vals[f"{p}.triggers"] = len(trig) / len(mine)
            for k in ("addBatch_ms", "queryPlanning_ms", "walCommit_ms", "state_commit_ms"):
                vals[f"{p}.{k}"] = median([x for op in mine for x in op[k]]) or 0.0
            vals[f"{p}.state_rows"] = median([op["state_rows"] for op in mine])
            vals[f"{p}.state_mb"] = median([op["state_bytes"] / 2**20 for op in mine])
        vals["TextStreams.pack_offsets.recovery_s"] = median(
            [op["seconds"] for op in ops if op["name"] == "pack_offsets_resume"])
    return vals


def score(workload, trace, rec, results, in_dir, truth, gen_s):
    """The result line. `results` holds one (op, ok, detail) per checked op,
    in cycle order; a cycle with a failed op gives no timing."""
    bad_cycles, k = set(), 0
    for c in rec["cycles"]:
        n = ops_per_cycle(workload, c)
        if not all(ok for _, ok, _ in results[k:k + n]):
            bad_cycles.add(c["cycle"])
        k += n
    ok_cycles = [c for c in rec["cycles"] if c["cycle"] not in bad_cycles]
    failed = sum(1 for r in results if not r[1])
    if trace:
        vals = per_layer(workload, rec, results, truth, gen_s)
    else:
        vals = end_to_end(workload, rec, ok_cycles, in_dir, truth)
    units = metrics.units(trace)
    return {"correct": failed == 0, "attempted": len(results), "failed": failed,
            "metrics": {k: {"value": vals.get(k), "unit": u} for k, u in units.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the repository root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    work = os.path.join(root, ".bench_work")
    os.makedirs(work, exist_ok=True)
    jar, built = build(root, work, T0 + BUILD_DEADLINE_S)
    # A run that builds may take BUILD_DEADLINE_S in all; any other run
    # DEADLINE_S.
    deadline = T0 + (BUILD_DEADLINE_S if built else DEADLINE_S)

    warm_dir = gen.warm_inputs(os.path.join(work, "inputs", "warm"))
    run_dir = os.path.join(work, "run")
    cds = os.path.join(work, CDS_ARCHIVE)
    if not os.path.exists(cds):
        shutil.rmtree(run_dir, ignore_errors=True)
        run_jvm(jar, ["archive", 0, 0, warm_dir, warm_dir], run_dir, cds, deadline, archive=True)
    log("build ready")
    in_dir, truth, gen_s = gen.inputs(os.path.join(work, "inputs"), args.workload, args.seed)
    shutil.rmtree(run_dir, ignore_errors=True)
    log("inputs ready")
    rec = run_jvm(jar, [args.workload, args.seconds, args.trace, in_dir, warm_dir],
                  run_dir, cds, deadline)
    log("workload done")

    results = run_checks(args, rec, in_dir, truth)
    for name, ok, detail in results:
        if not ok:
            print(f"FAILED {name}: {detail}", file=sys.stderr)
    log("outputs checked")
    line = score(args.workload, args.trace, rec, results, in_dir, truth, gen_s)
    print("box " + json.dumps(rec["box"], sort_keys=True))
    print(json.dumps(line))
    if args.trace:
        with open(os.path.join(work, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"spans": rec["spans"], "jobs": rec["jobs"], "metrics": line["metrics"],
                       "box": rec["box"]}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
