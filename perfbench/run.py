#!/usr/bin/env python3
"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <cli_convert|pipeline_warm|ingest_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under `.bench_build`
(or `$CARGO_TARGET_DIR`); later runs reuse it while the sources are
unchanged. Inputs are generated from `--seed` (see gen.py). Every
operation's output is checked; any mismatch counts as failed and makes
the command exit 1. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (spans are written to
`.bench_build/traces/`).

Workloads:
  cli_convert    the Csv2ParquetCli main as a cold process per conversion
  pipeline_warm  one warm session, full passes over a mix of oracled entries
  ingest_serve   standing passage + IVF indexes; admit/serve/retract/serve cycles
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("cli_convert", "pipeline_warm", "ingest_serve")
CORES = min(4, os.cpu_count() or 1)
END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("step_geomean_s", "s"), ("disk_mb", "MB")]
PER_LAYER = [
    ("session.jvm_start_s", "s"), ("session.build_s", "s"),
    ("session.first_action_s", "s"), ("session.warm_pass_s", "s"),
    ("session.artifacts_built", "count"),
    ("sources.infer_s", "s"), ("sources.infer_bytes_ratio", "ratio"),
    ("sources.parse_s", "s"), ("sources.single_file_s", "s"),
    ("sources.encode_commit_s", "s"), ("sources.write_tasks", "count"),
    ("sources.write_core_share", "ratio"), ("sources.row_groups", "count"),
    ("sources.duckdb_copy_s", "s"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
    ("plans.physical_s", "s"), ("plans.graft_rules_s", "s"),
    ("plans.plan_chars", "count"), ("plans.exchanges", "count"),
    ("plans.single_partition_windows", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.artifacts_built", "count"),
    ("functions.nearest_cell_rows_s", "rows/s"), ("functions.probe_cells_rows_s", "rows/s"),
    ("functions.dot_rows_s", "rows/s"), ("functions.minhash_rows_s", "rows/s"),
    ("functions.simhash_rows_s", "rows/s"), ("functions.winnowing_rows_s", "rows/s"),
    ("exec.action_s", "s"), ("exec.task_busy_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.input_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.straggler_s", "s"), ("exec.gc_s", "s"), ("exec.spill_bytes", "bytes"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.sched_gap_s", "s"), ("exec.core_idle_share", "ratio"),
    ("exec.failed_tasks", "count"),
    ("trace.overhead_s", "s"), ("trace.spans", "count"),
]
# ingest_serve's index-lifecycle layer numbers, reported by that workload
# only (BENCHMARK.json does not list it; see perfbench/README.md)
INGEST_LAYER = [
    ("operators.admit_s", "s"), ("operators.retract_s", "s"), ("operators.compact_s", "s"),
    ("operators.serve_s", "s"), ("operators.compact_bytes_rewritten", "bytes"),
    ("operators.dead_rows", "count"), ("operators.probe_yield", "ratio"),
    ("operators.index_bytes", "bytes"),
]
# The calibration job's CPU seconds (perfbench/src/.../Calibration.scala)
# on the 4-core VM the baseline was measured on, whose samples there ran
# from 0.18 to 0.21 s. Every gated time is scaled by this over the same
# job's median in the run, so it reads as CPU seconds at that machine's
# speed: the host the VM shares runs the same work 20-30 %
# slower in some stretches than in others, and the job, timed between
# operations, follows that.
REF_CALIBRATION_S = 0.19
# held-out ingest batches per run: more than the cycles a run can reach
HELD_OUT_BATCHES = 24



def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg: str) -> None:
    log(f"error: {msg}")
    sys.exit(2)


# ----------------------------------------------------------------------
# build
# ----------------------------------------------------------------------

def source_stamp() -> str:
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir: str):
    """Compile engine + harness with sbt once per source state; returns
    the classpath and the engine build's JVM options (build.sbt's
    `javaOptions`: the JDK 17 add-opens and -Xmx), which every JVM the
    benchmark starts runs with."""
    stamp_file = os.path.join(build_dir, "stamp")
    cache = os.path.join(build_dir, "launch.json")
    stamp = source_stamp()
    if os.path.exists(cache) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cache) as g:
                    c = json.load(g)
                return c["classpath"], c["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "print javaOptions",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    # `print` lists a sequence one unprefixed `* <item>` line each
    java_options = [line[2:] for line in lines[:-1] if line.startswith("* ")]
    if not any(o.startswith("-Xmx") for o in java_options):
        sys.stderr.write(p.stdout[-4000:])
        die("could not read the engine build's javaOptions")
    log(f"built in {time.time() - t:.1f} s")
    c = {"classpath": lines[-1].strip(), "java_options": java_options}
    with open(cache, "w") as f:
        json.dump(c, f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return c["classpath"], c["java_options"]


# ----------------------------------------------------------------------
# processes
# ----------------------------------------------------------------------

def run_proc(cmd, timeout: float, log_path: str):
    """Run `cmd` to completion; returns (exit code, wall s, CPU s, peak RSS MB)."""
    with open(log_path, "ab") as out:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=out, stderr=out, cwd=ROOT, start_new_session=True)
        timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0


def java_cmd(jvm, tmp: str, main: str, args) -> list:
    cp, java_options = jvm
    return (["java"] + java_options +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/spark-local", "-cp", cp, main]
            + list(args))


def calibrate(jvm, tmp, samples: int = 5) -> list:
    """The calibration job's CPU seconds, `samples` times, in a JVM of its own."""
    out = os.path.join(tmp, "calibration.txt")
    rc, _, _, _ = run_proc(java_cmd(jvm, tmp, "perfbench.Calibration", [str(CORES), str(samples)]),
                         60.0, out)
    with open(out) as f:
        lines = f.read().split()
    os.remove(out)
    if rc != 0 or len(lines) < samples:
        die(f"calibration exited {rc}")
    return [float(x) for x in lines[-samples:]]


def harness(jvm, tmp, mode, kv: dict, timeout=170.0):
    res_path = os.path.join(tmp, "result.json")
    args = [mode] + [f"{k}={v}" for k, v in kv.items()] + [f"out={res_path}", f"tmp={tmp}",
                                                          f"cores={CORES}"]
    rc, _, _, rss = run_proc(java_cmd(jvm, tmp, "perfbench.Harness", args), timeout,
                             os.path.join(tmp, "harness.log"))
    with open(os.path.join(tmp, "harness.log"), errors="replace") as f:
        text = f.read()
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(text[-4000:])
        die(f"harness {mode} exited {rc}")
    # the harness's own progress lines (pass and cycle walls)
    sys.stderr.writelines(l for l in text.splitlines(True) if l.startswith("[harness]"))
    with open(res_path) as f:
        return json.load(f), rss


# ----------------------------------------------------------------------
# correctness
# ----------------------------------------------------------------------

LINEITEM_HASH = ("SELECT count(*), sum(hash(concat_ws('|', l_orderkey, l_partkey, l_suppkey, "
                 "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
                 "l_linestatus, l_shipdate))::HUGEINT) FROM {}")


def table_digest(con, source: str):
    """Row count and an order-insensitive hash of every row's text form."""
    return con.execute(LINEITEM_HASH.format(source)).fetchone()


def oracle_mismatches(data_dir: str, dumps: list, oracle: dict, cache_dir: str) -> list:
    """Each entry's dump in each of `dumps` against its DuckDB oracle,
    normalized exactly as tools/check_oracle.py does (columns sorted,
    rows sorted, floats by repr).

    Every seed generates the same rows (only their order differs), so an
    oracle answer depends only on its SQL, the generator and DuckDB; it
    is computed once per checkout and kept in `cache_dir` under a hash
    of those three."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, canon
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_digest = hashlib.sha256(f.read()).hexdigest()
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{sql}\0{gen_digest}\0{duckdb.__version__}".encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{name}-{key[:24]}.pkl")
        try:
            if os.path.exists(cached):
                want = pd.read_pickle(cached)
            else:
                want = canon(con.execute(sql).df())
                want.to_pickle(cached)
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad += [f"{name}: oracle failed: {type(e).__name__}: {e}"] * len(dumps)
            continue
        for dump in dumps:
            d = os.path.join(dump, name)
            files = sorted(p for p in os.listdir(d) if p.endswith(".parquet")) \
                if os.path.isdir(d) else []
            try:
                got = canon(pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files]))
                if list(got.columns) != list(want.columns) or len(got) != len(want) \
                        or not got.equals(want):
                    bad.append(f"{name} ({os.path.basename(dump)} pass): "
                               "result differs from the DuckDB oracle")
            except Exception as e:  # noqa: BLE001 - any failure is a mismatch
                bad.append(f"{name} ({os.path.basename(dump)} pass): {type(e).__name__}: {e}")
    con.close()
    return bad


# ----------------------------------------------------------------------
# workloads
# ----------------------------------------------------------------------

def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def make_inputs(tmp: str, seed: int, csv: bool):
    import gen
    tables = gen.permuted(gen.base_tables(), seed)
    data = os.path.join(tmp, "data")
    gen.write_tables(tables, data)
    files = gen.write_csvs(tables["lineitem"], data) if csv else None
    return tables, data, files


def cli_convert(a, jvm, tmp):
    import duckdb
    tables, data, (full, tiny) = make_inputs(tmp, a.seed, csv=True)
    con = duckdb.connect()
    con.register("li", tables["lineitem"])
    want = table_digest(con, "li")
    con.register("head", tables["lineitem"].slice(0, 2))
    want_tiny = table_digest(con, "head")
    errors, attempted = [], 0
    if a.trace:
        res, _ = harness(jvm, tmp, "cli_layers", {"data": data, "seed": a.seed,
                                                 "seconds": a.seconds, "trace": 1, "csv": full,
                                                 "trace_out": trace_path(a)})
        attempted += res["attempted"] + 1
        errors += res["errors"]
        if table_digest(con, f"read_parquet('{res['inproc_parquet']}')") != want:
            errors.append("in-process conversion: rows or content differ from the source")
        t = time.perf_counter()
        con.execute(f"COPY (SELECT * FROM read_csv('{full}')) TO '{tmp}/duck.parquet' (FORMAT PARQUET)")
        res["layers"]["sources.duckdb_copy_s"] = time.perf_counter() - t
        return attempted, errors, save_layers(a, res["layers"])
    cli = "graft.sources.Csv2ParquetCli"

    def convert(src, dst, digest):
        rc, wall, cpu, rss = run_proc(java_cmd(jvm, tmp, cli, [src, dst]), 170.0,
                                      os.path.join(tmp, "cli.log"))
        ok = rc == 0 and os.path.exists(dst) and \
            table_digest(con, f"read_parquet('{dst}')") == digest
        return ok, wall, cpu, rss, (os.path.getsize(dst) if os.path.exists(dst) else 0)

    calib = calibrate(jvm, tmp)
    ok, tiny_wall, tiny_cpu, tiny_rss, _ = convert(tiny, f"{tmp}/tiny.parquet", want_tiny)
    attempted += 1
    if not ok:
        errors.append("3-line conversion: failed or wrong output")
    walls, cpus, rsss, sizes = [], [], [tiny_rss], []
    t0 = time.perf_counter()
    i = 0
    while i < a.min_ops or time.perf_counter() - t0 < a.seconds:
        ok, wall, cpu, rss, size = convert(full, f"{tmp}/out_{i}.parquet", want)
        attempted += 1
        if not ok:
            errors.append(f"conversion {i}: failed or wrong output")
        walls.append(wall)
        cpus.append(cpu)
        rsss.append(rss)
        sizes.append(size)
        if os.path.exists(f"{tmp}/out_{i}.parquet"):
            os.remove(f"{tmp}/out_{i}.parquet")
        i += 1
    calib += calibrate(jvm, tmp)
    # Times are the CLI processes' CPU seconds (user + system of every
    # thread, from the kernel's accounting), which time stolen by other
    # guests of a shared machine does not inflate, scaled by the
    # calibration job's speed before and after the conversions (see
    # REF_CALIBRATION_S); walls are logged beside them, not gated. A
    # conversion's steps are not visible from outside its process, so
    # step_geomean_s is the geometric mean of the two processes' CPU
    # seconds (setup_s and op_s).
    scale = REF_CALIBRATION_S / statistics.median(calib)
    tiny_cpu *= scale
    cpu = statistics.median(cpus) * scale
    metrics = {"setup_s": tiny_cpu, "op_s": cpu, "step_geomean_s": geomean([tiny_cpu, cpu]),
               "disk_mb": statistics.median(sizes) / 1e6, "peak_rss_mb": max(rsss)}
    log(f"cli_convert: conversion walls {[round(w, 3) for w in walls]}, cpu "
        f"{[round(c, 3) for c in cpus]}; 3-line wall {tiny_wall:.3f}, cpu {tiny_cpu / scale:.3f}; "
        f"calibration {[round(c, 4) for c in calib]} (scale {scale:.4f}); "
        f"output/csv bytes {statistics.median(sizes) / os.path.getsize(full):.4f}")
    return attempted, errors, metrics


def jvm_workload(a, jvm, tmp):
    _, data, _ = make_inputs(tmp, a.seed, csv=False)
    kv = {"data": data, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
          "min_ops": a.min_ops}
    if a.trace:
        kv["trace_out"] = trace_path(a)
    if a.workload == "ingest_serve":
        import gen
        for salt, (key, n, size) in enumerate((("doc_batches", 5000, 10), ("vec_batches", 2000, 6))):
            path = os.path.join(tmp, f"{key}.txt")
            with open(path, "w") as f:
                for b in gen.held_out_batches(n, a.seed, HELD_OUT_BATCHES, size, salt):
                    f.write(",".join(map(str, b)) + "\n")
            kv[key] = path
    res, rss = harness(jvm, tmp, a.workload, kv)
    if res["outside_dirs_created"]:
        log(f"the session wrote outside the checkout (removed where empty): {res['outside_dirs_created']}")
    errors = list(res["errors"])
    attempted = res["attempted"]
    if a.workload == "pipeline_warm":
        with open(os.path.join(tmp, "oracle_sql.json")) as f:
            oracle = json.load(f)
        dumps = [os.path.join(tmp, "out", p) for p in ("cold", "warm")]
        attempted += len(oracle) * len(dumps)
        t = time.perf_counter()
        errors += oracle_mismatches(data, dumps, oracle, os.path.join(a.build_dir, "oracle"))
        log(f"oracle check: {time.perf_counter() - t:.1f} s")
    if a.trace:
        return attempted, errors, save_layers(a, res["layers"])
    # A warm session's times are the CPU seconds of the threads doing
    # the work (the driver thread and the Spark tasks; see WorkCpu in
    # ExecStats.scala), set-up's those of the whole process, each
    # scaled by the calibration job's speed in the same run (see
    # REF_CALIBRATION_S). Walls are logged beside them, not gated.
    scale = REF_CALIBRATION_S / res["calibration_s"]
    log(f"{a.workload} walls: setup {res['setup_s']:.3f} s, ops "
        f"{[round(x, 3) for x in res['ops']]}, steps "
        + json.dumps({k: round(v, 3) for k, v in res["steps"].items()}))
    log(f"{a.workload} cpu: setup {res['setup_cpu_s']:.3f} s, ops "
        f"{[round(x, 3) for x in res['ops_cpu']]}, steps "
        + json.dumps({k: round(v, 3) for k, v in res["steps_cpu"].items()}))
    log(f"{a.workload} calibration: {res['calibration_s']:.4f} CPU s (scale {scale:.4f})")
    metrics = {"setup_s": res["setup_cpu_s"] * scale,
               "op_s": statistics.median(res["ops_cpu"]) * scale,
               "step_geomean_s": geomean(res["steps_cpu"].values()) * scale,
               "disk_mb": res["disk_bytes"] / 1e6, "peak_rss_mb": rss}
    return attempted, errors, metrics


def save_layers(a, layers: dict) -> dict:
    """Keep the traced run's full layer numbers (per-entry splits too)
    beside its spans."""
    with open(trace_path(a).replace(".json", ".layers.json"), "w") as f:
        json.dump(layers, f, indent=1, sort_keys=True)
    return layers


def trace_path(a) -> str:
    d = os.path.join(a.build_dir, "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{a.workload}-seed{a.seed}.json")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # fewest operations per run (more run while --seconds last); a
    # traced JVM run alternates traced and untraced operations, so it
    # needs one of each
    a.min_ops = 2 if a.trace else 1 if a.workload != "ingest_serve" else 3
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        die("not a graft checkout: build.sbt, src/main/scala/graft and tools/ are required")
    a.build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(a.build_dir, exist_ok=True)
    jvm = build(a.build_dir)
    tmp = os.path.join(a.build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        run = cli_convert if a.workload == "cli_convert" else jvm_workload
        attempted, errors, values = run(a, jvm, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    names = END_TO_END if not a.trace else \
        PER_LAYER + (INGEST_LAYER if a.workload == "ingest_serve" else [])
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    for e in errors:
        log(f"MISMATCH {e}")
    log(f"error_rate {len(errors) / max(1, attempted):.4f} ({len(errors)}/{attempted})")
    for n, m in metrics.items():
        log(f"{a.workload} {n} = {m['value']:.6g} {m['unit']}")
    if "peak_rss_mb" in values:  # reported, not gated: it does not repeat within a tenth
        log(f"{a.workload} peak_rss_mb = {values['peak_rss_mb']:.6g} MB (not gated)")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": len(errors),
                      "metrics": metrics}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
