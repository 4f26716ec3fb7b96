#!/usr/bin/env python3
"""graft benchmark runner. Run from the root of a graft checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

One run builds the harness (perfbench/, compiled together with graft's
own src/main/scala) if its sources changed, generates the benchmark's
tables if missing, runs one JVM for the workload, checks every result,
and prints two lines: a `perfbench-report` line with every metric the
run measured, then the result line, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).

Everything the run writes stays under the checkout: build outputs, the
generated tables, the oracle cache and the trace files under
$CARGO_TARGET_DIR (default .bench_build), and its scratch directory
there, deleted at exit.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SF = "0.1"
SMOKE_SF = "0.001"
# the JVM is killed after this many seconds beyond --seconds (set-up,
# checks and shutdown take ~30 s), so a run ends well within 180 s
JVM_GRACE_S = 120

WORKLOADS = ("dashboard", "llm_pipeline", "kv_ingest")
# ops without a DuckDB oracle, checked against their pinned first result
# (pins.json); every other op is checked against graft's oracle
PINNED = {"stats_sketch"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# metric name -> unit, in report order
E2E_ALL = {"setup_s": "s", "ops_per_s": "op/s", "latency_p50_s": "s",
           "latency_p90_s": "s", "failed_share": "share", "rss_peak_mb": "MB"}
E2E_KV = {"append_rows_per_s": "rows/s", "get_p50_s": "s", "get_p90_s": "s",
          "scan_p50_s": "s", "write_amp": "x", "space_amp": "x"}
KERNELS = ["cosine", "minhash_bands", "simhash64", "fingerprint64",
           "quality_counts", "hyperplane_bands", "pq_encode", "adc_dot"]
LAYER_ALL = {
    "api.session_s": "s", "sources.load_s": "s",
    "operators.construct_s": "s", "plans.analyze_s": "s",
    "plans.optimize_s": "s", "plans.physical_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_gap_s": "s",
    "scheduler.overhead_s": "s", "exec.wall_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.critical_path_s": "s",
    "exec.task_skew": "x", "exec.gc_s": "s", "exec.codegen_compile_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.rows_examined_per_row_out": "x",
    **{f"functions.{k}_rows_per_s": "rows/s" for k in KERNELS},
    "exec.kernel_share": "share", "host.floor_s": "s",
    "host.loadavg_start": "load", "trace.latency_ratio": "x"}
LAYER_KV = {"kv.append_s": "s", "kv.bytes_written": "bytes",
            "kv.live_runs": "count", "kv.get_files_scanned": "count",
            "kv.compact_s": "s", "kv.compact_bytes_rewritten": "bytes",
            "kv.wal_encode_mb_per_s": "MB/s", "kv.wal_decode_mb_per_s": "MB/s"}
# rows each llm op feeds a kernel, per input row (the kernel_share base)
KERNEL_FEED = {"dedup_minhash_lsh": ("minhash_bands", "documents"),
               "dedup_simhash": ("simhash64", "documents"),
               "dedup_embedding": ("hyperplane_bands", "embeddings"),
               "ann_lsh": ("hyperplane_bands", "embeddings")}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
    return h.hexdigest()


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else float("nan")


# ---------------------------------------------------------------- build

def sources():
    graft = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    own = glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    own += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    own += [p for p in (os.path.join(ROOT, "build.sbt"),
                        os.path.join(ROOT, "project/build.properties")) if os.path.exists(p)]
    return graft, own


def build():
    """Compile graft plus the harness with sbt, unless the sources are
    unchanged since the last build. Returns the JVM classpath."""
    graft, own = sources()
    if not graft:
        raise SystemExit("no graft sources under src/main/scala: "
                         "run from the root of a graft checkout")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = tree_hash(graft + own)
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.offline=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            f"-Dgraftbench.target={os.path.join(BUILD, 'sbt-target')} -Xmx2g"))
        log("building harness with sbt")
        t0 = time.time()
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                  "export perfbench/Runtime/fullClasspath"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        lines = open(log_path).read().splitlines()
        cp = [ln for ln in lines if ".jar" + os.pathsep in ln and not ln.startswith("[")]
        if rc != 0 or not cp:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            raise SystemExit(f"sbt build failed ({rc})")
        with open(cp_file, "w") as f:
            f.write(cp[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read()


# ----------------------------------------------------------------- data

def dataset(sf):
    """Generate (once) the benchmark's tables at scale `sf`."""
    gen = os.path.join(HERE, "gen_data.py")
    key = sha(open(gen, "rb").read(), sf)[:16]
    out = os.path.join(BUILD, "data", f"sf{sf}-{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.check_call([sys.executable, gen, out, sf])
        open(os.path.join(out, "_DONE"), "w").close()
    return out, key


# ---------------------------------------------------------- correctness

def _render(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(_render(x) for x in v) + "]"
    return str(v)


def digest(names, rows):
    """Order-insensitive fingerprint of a result, compared the way
    tools/check.py compares: columns sorted by (lower-cased) name, every
    value rendered (repr for floats, str otherwise), rows sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    rendered = sorted("\x1f".join(_render(r[i]) for i in order) for r in rows)
    return len(rendered), sha("\x1e".join(names[i].lower() for i in order),
                              "\x1d", "\x1e".join(rendered))


def parquet_digest(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tb = pa.concat_tables([pq.read_table(f, coerce_int96_timestamp_unit="us")
                           for f in files])
    cols = [tb.column(i).to_pylist() for i in range(tb.num_columns)]
    return digest(list(tb.column_names), list(zip(*cols)) if cols else [])


def oracle_digest(data_dir, sql, timeout_s):
    """DuckDB oracle result digest, cached per (tables, SQL)."""
    cache = os.path.join(BUILD, "oracle", sha(data_dir, sql)[:24] + ".json")
    if os.path.exists(cache):
        return tuple(json.load(open(cache)))
    import duckdb
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": os.path.join(BUILD, "duckdb_tmp")})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        names = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        timer.cancel()
        con.close()
    d = digest(names, rows)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    json.dump(list(d), open(cache, "w"))
    return d


def check_pending(result, data_dir, data_key, pin_mode):
    """Check each op output the JVM wrote for verification; record the
    ones that pass in the verified-fingerprint cache. Returns the set
    of ops whose output is wrong."""
    pins_path = os.path.join(HERE, "pins.json")
    pins = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
    bad, verified = set(), []
    for v in result.get("verify", []):
        if v["status"] != "pending":
            continue
        op = v["op"]
        got = parquet_digest(v["path"])
        if op in PINNED:
            want = pins.get(data_key, {}).get(op)
            if want is None and pin_mode:
                pins.setdefault(data_key, {})[op] = list(got)
                want = list(got)
                log(f"pinned {op}: {got[0]} rows")
            ok = want is not None and tuple(want) == got
        else:
            try:
                ok = oracle_digest(data_dir, v["oracle"], 150) == got
            except Exception as e:  # oracle error or interrupt
                log(f"{op}: oracle failed: {e}")
                ok = False
        if ok and got[0] == v["rows"]:
            verified.append(f"{v['key']}\t{v['rows']}\t{v['hash']}\n")
        else:
            log(f"{op}: output does not match its reference ({got[0]} rows)")
            bad.add(op)
    if pin_mode:
        with open(pins_path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    if verified:
        with open(os.path.join(BUILD, "verified.tsv"), "a") as f:
            f.writelines(verified)
    return bad


# -------------------------------------------------------------- metrics

def end_to_end(res, samples):
    lat = [s["latency_s"] for s in samples]
    m = {"setup_s": res["setup"]["total_s"],
         "ops_per_s": len(lat) / sum(lat),
         "latency_p50_s": quantile(lat, 0.5),
         "latency_p90_s": quantile(lat, 0.9),
         "rss_peak_mb": res["rss_peak_mb"]}
    if res["workload"] == "kv_ingest":
        kv = res["kv"]

        def lat_of(op):
            return [s["latency_s"] for s in samples if s["op"] == op]
        m.update({
            "append_rows_per_s": kv["rows_appended"] / max(1e-9, sum(
                s["latency_s"] for s in samples if s["op"] == "append" and s["ok"])),
            "get_p50_s": quantile(lat_of("get"), 0.5),
            "get_p90_s": quantile(lat_of("get"), 0.9),
            "scan_p50_s": quantile(lat_of("scan"), 0.5),
            "write_amp": kv["bytes_written"] / max(1, kv["user_bytes"]),
            "space_amp": kv["disk_bytes"] / max(1, kv["live_bytes"])})
    return m


def per_layer(res, samples, loadavg):
    traced = [s for s in samples if s["traced"]]
    plain = [s for s in samples if not s["traced"]]

    def avg(k, xs=traced):
        return mean(s[k] for s in xs if k in s)

    m = {"api.session_s": res["setup"]["session_s"],
         "sources.load_s": res["setup"]["load_s"],
         "operators.construct_s": avg("construct_s"),
         "plans.analyze_s": avg("analyze_s"),
         "plans.optimize_s": avg("optimize_s"),
         "plans.physical_s": avg("physical_s"),
         "scheduler.jobs": avg("jobs"), "scheduler.stages": avg("stages"),
         "scheduler.tasks": avg("tasks"),
         "scheduler.job_gap_s": avg("job_gap_s"),
         "scheduler.overhead_s": avg("overhead_s"),
         "exec.wall_s": avg("exec_s"), "exec.task_run_s": avg("task_run_s"),
         "exec.task_cpu_s": avg("task_cpu_s"),
         "exec.critical_path_s": avg("critical_path_s"),
         "exec.task_skew": median([s["task_skew"] for s in traced]),
         "exec.gc_s": avg("gc_s"),
         "exec.codegen_compile_s": avg("codegen_compiles") * res["codegen_mean_ms"] / 1e3,
         "exec.shuffle_write_bytes": avg("shuffle_write_bytes"),
         "exec.shuffle_read_bytes": avg("shuffle_read_bytes"),
         "exec.spill_bytes": avg("spill_bytes"),
         "exec.rows_examined_per_row_out": median(
             [s["rows_examined_per_row_out"] for s in traced
              if "rows_examined_per_row_out" in s]),
         "host.floor_s": res["host"]["floor_s"],
         "host.loadavg_start": loadavg,
         "trace.latency_ratio": median([s["latency_s"] for s in traced])
         / median([s["latency_s"] for s in plain])}
    rates = res["kernels"]
    for k in KERNELS:
        m[f"functions.{k}_rows_per_s"] = rates[k]
    # estimated kernel time: one kernel call per input row of each op
    # that feeds one (a lower bound: candidate-pair verification calls
    # are not counted), over the traced calls' task CPU
    est = sum(res["kernel_inputs"][KERNEL_FEED[s["op"]][1]] / rates[KERNEL_FEED[s["op"]][0]]
              for s in traced if s["op"] in KERNEL_FEED)
    m["exec.kernel_share"] = est / max(1e-9, sum(s.get("task_cpu_s", 0) for s in traced))
    if res["workload"] == "kv_ingest":
        kv, wal = res["kv"], res["wal"]
        gets = [s for s in traced if s["op"] == "get"]
        m.update({
            "kv.append_s": median([s["latency_s"] for s in samples if s["op"] == "append"]),
            "kv.bytes_written": kv["bytes_written"],
            "kv.live_runs": mean(s["live_runs"] for s in gets),
            "kv.get_files_scanned": mean(s["files_scanned"] for s in gets
                                         if "files_scanned" in s),
            "kv.compact_s": median([s["latency_s"] for s in samples if s["op"] == "compact"]),
            "kv.compact_bytes_rewritten": kv["compact_bytes"],
            "kv.wal_encode_mb_per_s": wal["encode_mb_per_s"],
            "kv.wal_decode_mb_per_s": wal["decode_mb_per_s"]})
    return m


def host_state():
    """Host and source state, read just before the JVM starts (after
    the build and table generation, whose load it must not miss)."""
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or commit
    except (OSError, subprocess.SubprocessError):
        pass
    graft, own = sources()
    return {"nproc": os.cpu_count(), "git_commit": commit,
            "source_hash": tree_hash(graft)[:16],
            "loadavg_start": float(open("/proc/loadavg").read().split()[0])}


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot (/proc/stat)."""
    ticks = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    return ticks[7], sum(ticks)


# ------------------------------------------------------------------ run

def run_once(workload, seed, seconds, trace, sf=SF, pin=False):
    """One benchmark run; returns (result line dict, report dict)."""
    cp = build()
    data_dir, data_key = dataset(sf)
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_file = os.path.join(trace_dir, f"{workload}-sf{sf}-seed{seed}.jsonl")
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--data", data_dir, "--data-key", data_key, "--work", work,
              "--out", out, "--verified", os.path.join(BUILD, "verified.tsv")]
           + (["--trace-file", trace_file] if trace else []))
    # graft reads GRAFT_* / SPARK_GRAFT_* knobs from the environment:
    # the benchmark runs with every default
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    host = host_state()
    steal0, total0 = cpu_ticks()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_GRACE_S + seconds)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests while
        # the JVM ran: a throttled or crowded run shows here
        host["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        res = json.load(open(out))
        bad = check_pending(res, data_dir, data_key, pin)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    for s in samples:
        if s["op"] in bad:
            s["ok"] = False
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    if workload == "kv_ingest":
        attempted += 1                         # the reopen check
        failed += 0 if res["kv"]["reopen_ok"] else 1
    e2e = end_to_end(res, samples)
    e2e["failed_share"] = failed / attempted
    report_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_ALL.items()}
    if workload == "kv_ingest":
        report_metrics.update({k: {"value": e2e[k], "unit": u} for k, u in E2E_KV.items()})
    if trace:
        layer = per_layer(res, samples, host["loadavg_start"])
        units = dict(LAYER_ALL, **(LAYER_KV if workload == "kv_ingest" else {}))
        report_metrics.update({k: {"value": layer[k], "unit": u} for k, u in units.items()})
    host.update(res["host"])
    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "sf": sf, "host": host, "samples": len(samples), "setup": res["setup"],
              "loop_s": res["loop_s"], "metrics": report_metrics,
              "trace_file": os.path.relpath(trace_file, ROOT) if trace else None,
              "failed_ops": sorted({s["op"] for s in samples if not s["ok"]})}
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: report_metrics[n] for n in names}}
    return line, report


def smoke():
    """One short pass of each workload on the small tables, traced and
    untraced, asserting that every named metric is reported with its
    unit and that every result checks."""
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            line, report = run_once(wl, 1, 2, trace, sf=SMOKE_SF)
            want = dict(E2E_ALL, **(E2E_KV if wl == "kv_ingest" else {}))
            if trace:
                want.update(LAYER_ALL, **(LAYER_KV if wl == "kv_ingest" else {}))
            for name, unit in want.items():
                got = report["metrics"].get(name)
                if got is None or got["unit"] != unit or not isinstance(
                        got["value"], (int, float)) or math.isnan(got["value"]):
                    problems.append(f"{wl}/trace{trace}: {name} missing or bad: {got}")
            if not line["correct"]:
                problems.append(f"{wl}/trace{trace}: failed ops {report['failed_ops']}")
            print("perfbench-smoke " + json.dumps({"workload": wl, "trace": trace,
                                                   "metrics": report["metrics"]}))
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("SMOKE OK" if not problems else f"SMOKE FAILED ({len(problems)})")
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one short pass of every workload on the small tables")
    ap.add_argument("--pin", action="store_true",
                    help="record missing pinned results (maintainers only)")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    line, report = run_once(a.workload, a.seed, a.seconds, a.trace, pin=a.pin)
    print("perfbench-report " + json.dumps(report))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
