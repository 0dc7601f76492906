#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <board_oneshot|board_iterative|lake>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt when the sources
changed since the last build (outputs under `.bench_build/` and the sbt
`target/` dirs), generates the seeded inputs, runs the workload in one
JVM (perfbench.Main), checks every output, and prints one JSON line as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end set, with `--trace 1`
the per-layer set (see README.md). The full record of the run, with the
failure list, the run context and the span tree, goes to
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import corpus  # noqa: E402

WORKLOADS = ("board_oneshot", "board_iterative", "lake")
# corpus scale for the board workloads: a quarter of the 0.1 scale factor
# (lineitem 150,000 rows), so one pass fits in a run
BOARD_SCALE = 0.25
HEAP = "3g"
RUN_LIMIT_S = 175

END_TO_END = {"setup_s": "s", "wall_s": "s"}
# every per-layer metric with its unit; a workload that does not touch a
# layer reports 0 for it
PER_LAYER = {
    "op_p50_ms": "ms", "op_tail_ms": "ms", "peak_rss_mib": "MiB",
    "operators.build_ms": "ms", "operators.eager_jobs": "count",
    "driver.gap_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.sched_delay_ms": "ms", "exec.concurrency": "ratio",
    "exec.one_task_stage_frac": "ratio",
    "tables.input_bytes": "B", "tables.input_rows": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "B",
    "persist.block_mib": "MiB",
    "ingest.ingest_ms": "ms", "ingest.find_ms": "ms", "ingest.delete_ms": "ms",
    "ingest.compact_ms": "ms", "ingest.deduped_rows": "count",
    "ingest.rejected_batches": "count", "ingest.catalog_files": "count",
    "ingest.catalog_bytes": "B",
    "snapshot.commit_ms": "ms", "snapshot.merge_ms": "ms",
    "snapshot.read_version_ms": "ms", "snapshot.read_range_ms": "ms",
    "snapshot.expire_ms": "ms", "snapshot.vacuum_ms": "ms",
    "snapshot.prune_ratio": "ratio", "snapshot.data_files": "count",
    "snapshot.manifest_bytes": "B", "snapshot.bytes_reclaimed": "B",
    "find_p50_ms": "ms", "find_tail_ms": "ms", "ingest_p50_ms": "ms",
    "ingest_tail_ms": "ms", "read_p50_ms": "ms", "read_tail_ms": "ms",
    "space_amp": "ratio", "failed_frac": "ratio",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout, and
    after it exits, kill whatever is left of the group, so no process the
    benchmark started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return subprocess.CompletedProcess(cmd, p.returncode, out)


def sources(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(p)
        for d, _, files in sorted(os.walk(p)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build(root, work):
    """Compile with sbt unless the sources are unchanged since the last
    build; return (classpath, jvm options)."""
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(work, "build.stamp")
    launch = os.path.join(root, "perfbench", "target", "launch.txt")
    fresh = (os.path.exists(stamp_file) and os.path.exists(launch)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = [f"-Djava.io.tmpdir={tmp}", "-Dsbt.offline=true", "-Xmx2g",
                "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                      850, cwd=os.path.join(root, "perfbench"), env=env,
                      stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("build failed", 1)
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:]
            if o and not o.startswith(("-Xmx", "-Dgraft.build.root="))]
    return lines[0], opts


def proc_stat():
    """(steal, total) jiffies over user..steal, as graft.Bench reads them."""
    try:
        with open("/proc/stat") as f:
            n = [int(x) for x in f.readline().split()[1:]]
        return (n[7] if len(n) > 7 else 0), sum(n[:8])
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


# ts_interpolate's DuckDB oracle buckets with CAST(epoch(ts) AS BIGINT),
# which rounds to the nearest second, while the query (Spark's window()
# and unix_timestamp) floors; an event in the last half second of a
# 4-hour bucket then lands in the next bucket on the oracle side only.
# Flooring the seconds is the bucketing the oracle's `// 14400` means.
# Once the oracle floors itself the pattern no longer matches.
ROUNDED_EPOCH = re.compile(r"CAST\(epoch\(((?:min|max)\(ts\)|ts)\) AS BIGINT\) // 14400")


def floor_bucket_oracle(oracle_dir):
    """Rewrite ts_interpolate's oracle in `oracle_dir`/oracle_sql.json to
    floor epoch seconds; return how many expressions it changed."""
    path = os.path.join(oracle_dir, "oracle_sql.json")
    with open(path) as f:
        oracles = json.load(f)
    if "ts_interpolate" not in oracles:
        return 0
    sql, n = ROUNDED_EPOCH.subn(r"CAST(floor(epoch(\1)) AS BIGINT) // 14400",
                                oracles["ts_interpolate"])
    if n:
        oracles["ts_interpolate"] = sql
        with open(path, "w") as f:
            json.dump(oracles, f)
    return n


def oracle_check(root, oracle_dir, corpus_dir, cpus):
    """tools/check.py over the dumped results: [(query, class, message)]
    for every query whose result differs from the DuckDB oracle."""
    # llm_fuzzy_join's naive O(n^2) oracle takes half a minute at this
    # scale; check.py's banded form is the same blocking rebuilt in
    # DuckDB, proven equal to the naive one by `check.py prove`
    env = dict(os.environ, GRAFT_CHECK_THREADS=str(cpus),
               GRAFT_CHECK_BANDED="llm_fuzzy_join")
    r = run_group([sys.executable, os.path.join(root, "tools", "check.py"),
                   oracle_dir, corpus_dir], 120, cwd=root, env=env,
                  stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    fails = [(line[5:].split(":", 1)[0], "OracleMismatch",
              line[5:].split(":", 1)[1].strip() if ":" in line[5:] else "")
             for line in r.stdout.splitlines() if line.startswith("FAIL ")]
    if r.returncode != 0 and not fails and "pass," not in r.stdout:
        fails.append(("oracle", "CheckError", r.stdout[-300:]))
    summary = [line for line in r.stdout.splitlines() if " pass, " in line]
    return fails, (summary[-1] if summary else "")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; expected one of {WORKLOADS}")
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a checkout of the program")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    base = os.path.join(root, ".bench_build")
    os.makedirs(base, exist_ok=True)
    classpath, jvm_opts = build(root, base)

    t_start = time.time()
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = min(4, len(os.sched_getaffinity(0)))
    if a.workload.startswith("board"):
        corpus_dir = os.path.join(work, "corpus")
        corpus.generate(corpus_dir, a.seed, BOARD_SCALE)
    else:
        corpus_dir = os.path.join(work, "lake")
    out = os.path.join(work, "result.json")
    steal0, jif0 = proc_stat()
    load0 = loadavg()
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dgraft.build.root={work}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corpus", corpus_dir, "--work", work, "--out", out,
            "--lists", os.path.join(HERE, "lists"), "--cpus", str(cpus),
            "--launched-ns", str(time.time_ns())])
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_", "HADOOP_"))}
    limit = RUN_LIMIT_S - (time.time() - t_start)
    try:
        r = run_group(cmd, max(10.0, limit), cwd=work, env=env, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        die(f"{a.workload} did not finish within {RUN_LIMIT_S} s", 1)
    if r.returncode != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited with {r.returncode}", 1)
    steal1, jif1 = proc_stat()
    with open(out) as f:
        res = json.load(f)

    failures = [(x["op"], x["class"], x["message"]) for x in res["failures"]]
    oracle_summary, oracle_fixes = "", 0
    if res.get("oracle_dir"):
        oracle_fixes = floor_bucket_oracle(res["oracle_dir"])
        more, oracle_summary = oracle_check(root, res["oracle_dir"], corpus_dir, cpus)
        failures += more
    attempted = max(1, int(res["attempted"]))
    failed = len(failures)

    if a.trace:
        vals = dict(res["per_layer"], failed_frac=failed / attempted)
        metrics = {n: {"value": vals.get(n) or 0.0, "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": res["end_to_end"][n], "unit": u}
                   for n, u in END_TO_END.items()}

    context = dict(res["context"])
    context.update({
        "nproc": os.cpu_count(), "cpus_used": cpus,
        "loadavg_before": load0, "loadavg_after": loadavg(),
        "steal_pct": round(100.0 * (steal1 - steal0) / (jif1 - jif0), 3)
        if jif1 > jif0 else -1.0,
        "board_scale": BOARD_SCALE if a.workload.startswith("board") else None,
        "oracle_summary": oracle_summary, "oracle_floor_fixes": oracle_fixes,
        "run_s": round(time.time() - t_start, 3)})
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics, "tails": res["tails"],
              "context": context,
              "failures": [{"op": o, "class": c, "message": m}
                           for o, c, m in failures],
              "spans": res["spans"]}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    for o, c, m in failures:
        print(f"[perfbench] failure: {o}: {c}: {m[:200]}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
