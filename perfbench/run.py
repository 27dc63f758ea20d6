#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark harness from source (sbt, offline),
makes the workload's seeded inputs, runs one benchmark JVM on Spark
local[nproc], gates its answers, and prints a human report followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, and the spans of the traced ops are written to
<build dir>/trace-<workload>-<seed>.json. Exits nonzero on any failed op
or wrong answer. The build dir is $CARGO_TARGET_DIR, else .bench_build.

Workloads: sql_board, connector_roundtrip, index_lifecycle.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# index_lifecycle runs by hand; BENCHMARK.json lists the two workloads
# whose runs fit the benchmark's time budget.
WORKLOADS = ("sql_board", "connector_roundtrip", "index_lifecycle")
# Every run reports these. Each workload's own named metrics (query p50 and
# tail, insert and scan rows/s, append and probe p50) go to the report.
END_TO_END = {
    "setup_s": "s", "op_geomean_ms": "ms", "pass_ms": "ms", "peak_heap_mb": "MB",
}
# Every traced run reports these; the comment names the end-to-end metric
# (and workload) each one should move.
PER_LAYER = [
    # per op of the workload (functions+plans, operators): op_geomean_ms and
    # pass_ms; on sql_board mostly, the fixed per-query cost
    "plan.parse_ms", "plan.analyze_ms", "plan.optimize_ms", "plan.physical_ms", "query.build_ms",
    "query.exec_ms", "spark.jobs", "spark.stages", "spark.tasks",
    # per op: the tail of sql_board's queries, the large connector ops
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
    "spark.spill_bytes", "jvm.gc_ms", "trace.overhead_ms",
    # connector, standalone at 10k/100k/400k rows: connector_roundtrip's
    # pass_ms, which its 400k-row inserts and scans dominate, and its
    # insert and scan rows/s (the stub runs the same codec)
    "arrow.encode_rows_per_s", "arrow.decode_rows_per_s",
    "lz4.compress_mb_per_s", "lz4.decompress_mb_per_s",
    "zstd.compress_mb_per_s", "zstd.decompress_mb_per_s",
    "http.insert_ms", "http.query_ms", "stub.server_ms",
    "wire.bytes_per_row_none", "wire.bytes_per_row_lz4", "wire.bytes_per_row_zstd",
    # llm, from a traced standing-index lifecycle: index_lifecycle's set-up,
    # append, cold and warm probe latencies and its lifecycle wall time
    "index.build_ms", "index.append_bm25_ms", "index.append_ann_ms",
    "index.jobs_per_append", "index.files_per_append", "index.write_amp",
    "index.probe_cold_bm25_ms", "index.probe_cold_ann_ms", "index.jobs_per_probe",
    "index.input_bytes_per_probe", "index.meta_ms", "index.probe_warm_bm25_ms",
    "index.probe_warm_ann_ms", "index.compact_ms", "index.space_amp_before",
    "index.space_amp_after", "index.appended_frac", "index.recall_at_5",
]
# sql_board measures every PANEL_STRIDE-th declared row (sql_board.txt) on
# fixtures at FIXTURE_SF: the whole board's first executions alone take
# minutes, far beyond one run.
PANEL_STRIDE = 16
FIXTURE_SF = 0.01
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Digest of every input of the build, so a stale classpath rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(bd):
    """Compile graft and the harness with sbt; return the runtime classpath."""
    digest = source_digest()
    cp_file = os.path.join(bd, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if stamp == digest and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(bd, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts + [os.environ.get("SBT_OPTS", "")]).strip())
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(bd, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {p.returncode}); see {bd}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def board_panel():
    with open(os.path.join(HERE, "sql_board.txt")) as f:
        rows = sorted(l.strip() for l in f if l.strip() and not l.startswith("#"))
    return rows[::PANEL_STRIDE]


def oracle_gate(fixtures, out):
    """Run the repository's DuckDB oracle gate; return {row: passed}."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), fixtures, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"^(PASS|FAIL|ROWS-OK|EMPTY!!)\s+(\S+?):?\s", line + " ")
        if m:
            verdict[m.group(2)] = m.group(1) == "PASS"
            if m.group(1) != "PASS":
                log(f"oracle: {line}")
    return verdict


def commit_id():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources next to the benchmark (looked in {ROOT})")
        return 2

    bd = build_dir()
    cp = build(bd)
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(bd, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--cores", str(cores)]
        panel = []
        if a.workload == "sql_board":
            import fixtures
            fx = os.path.join(work, "fixtures")
            fixtures.generate(fx, a.seed, FIXTURE_SF)
            panel = board_panel()
            with open(os.path.join(work, "board.txt"), "w") as f:
                f.write("\n".join(panel) + "\n")
            jvm_args += ["--fixtures", fx]
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xmx{JVM_HEAP}", "-Dio.netty.tryReflectionSetAccessible=true",
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", cp, "graftbench.Main"] + jvm_args)
        log(f"inputs ready after {time.time() - t_start:.1f} s")
        limit = RUN_LIMIT_S - (time.time() - t_start) - 15
        with open(os.path.join(work, "jvm.log"), "w") as lf:
            try:
                jvm = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, timeout=limit)
                code = jvm.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        log(f"benchmark JVM done after {time.time() - t_start:.1f} s")
        res_path = os.path.join(work, "result.json")
        if not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            log(f"benchmark JVM ended ({code}) without a result")
            return 1
        with open(res_path) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        if code != 0:
            failed += 1
            attempted += 1
            errors.append(f"benchmark JVM exit {code}")
        if a.workload == "sql_board" and not errors:
            verdict = oracle_gate(os.path.join(work, "fixtures"), os.path.join(work, "board_out"))
            for name in panel:
                if not verdict.get(name, False):
                    n = res["kinds"].get(name, 1)
                    failed += n
                    errors.append(f"{name}: oracle mismatch ({n} ops)")

        log(f"gates done after {time.time() - t_start:.1f} s")
        env = res["env"]
        print(f"[graftbench] {a.workload} seed={a.seed} trace={a.trace} commit={commit_id()} "
              f"source={source_digest()[:12]} jvm={env['jvm']} spark={env['spark']} "
              f"cores={env['cores']} max_heap_mb={env['max_heap_mb']}")
        print(f"[graftbench] setup reps (s): {res['setup_reps_s']}; units={res['units']} "
              f"loop_s={res['loop_s']:.3f}")
        report = dict(res["report"])
        report["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        for k in ("setup_s", "peak_heap_mb"):
            if k in res["e2e"]:
                report[k] = {"value": res["e2e"][k], "unit": END_TO_END[k]}
        for k, v in report.items():
            print(f"[graftbench] {a.workload} {k} = {v['value']:.6g} {v['unit']}")
        for n in res["notes"]:
            print(f"[graftbench] note: {n}")
        for e in errors[:10]:
            print(f"[graftbench] FAILED {e}")
        if len(errors) > 10:
            print(f"[graftbench] ... and {len(errors) - 10} more failures")

        if a.trace:
            metrics = {k: res["per_layer"][k] for k in PER_LAYER if k in res["per_layer"]}
            missing = [k for k in PER_LAYER if k not in metrics]
        else:
            metrics = {k: {"value": res["e2e"][k], "unit": u}
                       for k, u in END_TO_END.items() if res["e2e"].get(k) is not None}
            missing = [k for k in END_TO_END if k not in metrics]
        if missing:
            errors.append(f"metrics not measured: {', '.join(missing)}")
            print(f"[graftbench] FAILED metrics not measured: {', '.join(missing)}")
        correct = not errors
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
