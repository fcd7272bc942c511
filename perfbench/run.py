#!/usr/bin/env python3
"""The repository's benchmark: builds the engine from source, runs one
workload in a fresh JVM started with the engine's own fork flags, checks
every output, and prints one JSON result line.

    python3 perfbench/run.py --workload catalog_small --seed 1 --seconds 4 --trace 0

Workloads (see README.md):
  catalog_small       8 fixed SparkEntry.queries over data/sf0.001: a cold
                      and a warm pass as set-up, timed passes in
                      seed-shuffled order, then an untimed check pass
  reference_pipeline  seeded chart payloads -> Connector.fetchAll ->
                      EtlJob.runWithSinks, the dashboard's load of the wide
                      CSV and one warm-up cycle as set-up, then timed cycles
                      of one client: 4 /api/similarity requests per
                      Dashboard.run refresh (an assumed mix; see README.md)

With --trace 0 the last line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run. The full
record of each run (every operation, the environment, the resolved JVM
flags) is written to perfbench/out/<workload>-s<seed>-t<trace>.json.
A wrong output counts as a failed operation, makes "correct" false and
the exit code 1, after the result line is printed. The exit code is 2,
with no result line, when the engine's sources are missing, the build
fails, or the JVM fails.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAUNCH = os.path.join(HERE, "target", "launch.json")
DATA = os.path.join(HERE, "data", "sf0.001")
CATALOG = os.path.join(HERE, "catalog.json")

JVM_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s", "cpu_s": "s",
}
PER_LAYER = {
    "operators.build_s": "s", "plans.plan_s": "s", "codegen.compiles": "count",
    "jvm.jit_ms": "ms", "jvm.gc_s": "s", "jvm.code_cache_peak_mb": "MB", "jvm.heap_peak_mb": "MB",
    "jvm.rss_peak_mb": "MB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.task_skew": "ratio", "exec.driver_gap_s": "s",
    "exec.failed_tasks": "count", "scan.bytes": "bytes", "scan.rows": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.disk_bytes": "bytes", "Graft.session_s": "s", "Graft.release_s": "s",
    "ingest.fetch_s": "s", "ingest.parse_s": "s", "clean.ffill_s": "s", "align.calendar_s": "s",
    "etl.run_s": "s", "io.parquet_write_s": "s", "io.csv_write_s": "s", "io.csv_read_s": "s",
    "io.json_s": "s", "io.pdf_s": "s", "analytics.vol_s": "s", "analytics.heatmap_s": "s",
    "analytics.compare_s": "s", "failed_frac": "fraction", "latency_p90_s": "s",
    "trace.ops_per_s": "1/s", "trace.cpu_s": "s",
}
# Per-layer metrics that add up over the operations and layer probes.
SUMMED = [k for k in PER_LAYER
          if k.split(".")[0] in ("operators", "plans", "codegen", "exec", "scan", "shuffle", "spill",
                                 "ingest", "clean", "align", "etl", "io", "analytics")
          and k != "exec.task_skew"] + ["jvm.jit_ms", "jvm.gc_s", "Graft.release_s"]


class BenchError(Exception):
    pass


# --------------------------------------------------------------------------
# Build and launch


def engine_env():
    """SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM the way the tier-1 test
    command sets them: every CPU, and half of MemTotal clamped to 2..8 GiB.
    build.sbt reads SPARK_DRIVER_MEM into -Xmx when the build loads."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    gib = min(8, max(2, mem_kb // 2097152))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=f"{gib}g",
               SPARK_LOCAL_DIRS=os.path.join(OUT, "spark-local"))
    env.pop("OMP_NUM_THREADS", None)
    return env


def build_inputs():
    """Files whose content decides the build, and the env the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def ensure_build(env):
    """Compiles the engine and the harness with sbt (offline) unless a
    build of the same sources and flags exists; returns the launch spec."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise BenchError(f"engine sources not found next to {HERE} (need ../build.sbt and ../src/main)")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_JVM_OPTS"):
        h.update(f"{k}={env.get(k, '')}".encode())
    key = h.hexdigest()
    if os.path.isfile(LAUNCH):
        with open(LAUNCH) as f:
            spec = json.load(f)
        if spec.get("key") == key:
            return spec
    sbt_env = dict(env, COURSIER_MODE="offline")
    sbt_env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    # keep sbt's temp files, perf data, server socket and boot lock out of
    # the system directories
    tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Dsbt.boot.lock=false"
                            " -Dsbt.server.autostart=false -XX:-UsePerfData")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportLaunch"], cwd=HERE,
                       env=sbt_env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if p.returncode != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    with open(LAUNCH) as f:
        spec = json.load(f)
    spec["key"] = key
    with open(LAUNCH, "w") as f:
        json.dump(spec, f)
    return spec


def launch(spec, env, run_dir, args, timeout=JVM_TIMEOUT_S, props=()):
    """Runs perfbench.Main in a fresh JVM; returns its result record with
    setup_s (process start until Graft.envSession returned) added."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = ["java", *spec["java_options"], f"-Djava.io.tmpdir={tmp}", *props,
           "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main", args[0], result, *args[1:]]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        t0 = time.time()
        try:
            p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{args[0]} JVM exceeded {timeout} s; log in {run_dir}/jvm.log")
    if p.returncode != 0 or not os.path.isfile(result):
        raise BenchError(f"{args[0]} JVM exited {p.returncode}; log in {run_dir}/jvm.log")
    with open(result) as f:
        r = json.load(f)
    if "ready_epoch_s" in r:
        r["setup_s"] = r["ready_epoch_s"] - t0
    return r


# --------------------------------------------------------------------------
# Output checks shared with make_expected.py


def canon_rows(cols, rows):
    """scripts/oracle_check.py's comparison form: columns sorted by name,
    floats rounded to 9 dp, other values as strings, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return str(v)

    out = [[norm(r[i]) for i in order] for r in rows]
    out.sort(key=lambda t: [(x is None, str(x)) for x in t])
    return [cols[i] for i in order], out


def type_cat(t):
    import pyarrow.types as pt
    if pt.is_integer(t):
        return f"int{t.bit_width}"
    if pt.is_floating(t):
        return "float"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_date(t):
        return "date"
    if pt.is_timestamp(t):
        return "timestamp"
    return str(t)


def digest(con, sql):
    """Row count, sorted columns, type categories and a hash of the
    canonical rows of one DuckDB relation."""
    tbl = con.sql(sql).arrow()
    cols = tbl.column_names
    rows = list(zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])) if cols else []
    ccols, crows = canon_rows(cols, rows)
    return {"rows": len(crows), "columns": ccols,
            "types": {f.name: type_cat(f.type) for f in tbl.schema},
            "sha256": hashlib.sha256(json.dumps(crows).encode()).hexdigest()}


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def spark_output_sql(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return f"SELECT * FROM read_parquet({files!r})"


# --------------------------------------------------------------------------
# Workloads


# Timed passes (catalog_small) and request cycles (reference_pipeline) per
# --seconds: a fixed count, so every commit does the same work; one takes
# about 5-9 s on a 4-vCPU host.
SECONDS_PER_ROUND = 4


# reference_pipeline's client repeats a cycle of SIMILARITY_PER_REFRESH
# /api/similarity requests and one full Dashboard.run refresh. The ratio
# is an assumption, not measured traffic (README.md, "The request mix").
SIMILARITY_PER_REFRESH = 4
CYCLE = SIMILARITY_PER_REFRESH + 1


def rounds(seconds):
    return max(1, round(seconds / SECONDS_PER_ROUND))


# catalog_small's passes that write their results as parquet, under
# <check_dir>/<kind>/<query>: the cold pass and the check pass after the
# timed ones.
CHECKED_PASSES = ("cold", "check")


def check_outputs(con, ops, check_dir, expected):
    """Compares the parquet output of each checked catalog operation with
    the query's expectation."""
    failures = {}
    for op in ops:
        if op["kind"] not in CHECKED_PASSES or not op["ok"]:
            continue
        key = f"{op['kind']}:{op['name']}"
        sql = spark_output_sql(os.path.join(check_dir, op["kind"], op["name"]))
        if sql is None:
            failures[key] = "no parquet output"
            continue
        got, want = digest(con, sql), expected[op["name"]]
        bad = [k for k in want if got[k] != want[k]]
        if bad:
            failures[key] = "mismatch in " + ", ".join(
                f"{k}: got {got[k]!r}, expected {want[k]!r}" for k in bad)
    return failures


def run_catalog_small(spec, env, run_dir, seed, seconds, trace):
    with open(CATALOG) as f:
        catalog = json.load(f)
    names = catalog["queries"]
    check_dir = os.path.join(run_dir, "check")
    main = launch(spec, env, os.path.join(run_dir, "main"),
                  ["catalog", str(trace), DATA, check_dir, str(seed), str(rounds(seconds)), ",".join(names)])
    failures = {f"{i}:{op['name']}": op["error"] for i, op in enumerate(main["ops"]) if not op["ok"]}
    failures.update(check_outputs(duck(), main["ops"], check_dir, catalog["expected"]))
    return main, failures, {"queries": names}


def trading_days(rng, n):
    days, d = [], datetime.date(2019, 5, 8)
    while len(days) < n:
        # weekdays, minus seeded exchange holidays (about 9 a year)
        if d.weekday() < 5 and rng.random() >= 0.035:
            days.append(d)
        d += datetime.timedelta(days=1)
    return days


def generate_pipeline(seed, n_requests, n_symbols=20, n_days=1758):
    """Chart-API payloads in the reference's shape with null closes, OHLC
    anomalies, missing days and staggered listings, plus the EtlJob.Report
    the engine must produce and the request sequence of the client.

    Truth follows the reference's semantics: anomalies are counted on the
    raw bars (a check is skipped when a field it needs is null); close is
    forward-filled per symbol and leading nulls are dropped; the master
    calendar is the union of the remaining dates and every symbol is
    padded to it."""
    rng = random.Random(seed)
    days = trading_days(rng, n_days)
    symbols = [f"SYM{i:02d}" for i in range(n_symbols)]
    payloads, valid_dates, anomalies = {}, {}, 0
    for si, sym in enumerate(symbols):
        listing = 0 if si < n_symbols - 6 else rng.randint(30, 700)
        sigma = rng.uniform(0.005, 0.03)
        price = rng.uniform(10, 400)
        lead_nulls = rng.randint(1, 4) if si % 3 == 0 else 0
        ts, cols = [], {k: [] for k in ("open", "high", "low", "close", "volume")}
        prev_close = price
        for i, d in enumerate(days[listing:]):
            if i > 0 and rng.random() < 0.004:
                continue                                  # no trade that day
            price *= math.exp(rng.gauss(0.0002, sigma))
            o = prev_close * math.exp(rng.gauss(0, sigma / 2))
            c = price
            h = max(o, c) * (1 + abs(rng.gauss(0, sigma / 2)))
            lo = min(o, c) * (1 - abs(rng.gauss(0, sigma / 2)))
            prev_close = c
            bar = {"open": round(o, 4), "high": round(h, 4), "low": round(lo, 4),
                   "close": round(c, 4), "volume": rng.randint(1000, 5000000)}
            u = rng.random()
            if u < 0.0015:
                bar["high"], bar["low"] = bar["low"], bar["high"]
            elif u < 0.003:
                bar["close"] = round(bar["high"] * 1.01, 4)
            elif u < 0.0045:
                bar["open"] = round(bar["low"] * 0.99, 4)
            if i < lead_nulls or rng.random() < 0.01:
                bar["close"] = None
            for k in ("open", "high", "low", "volume"):
                if rng.random() < 0.002:
                    bar[k] = None
            anomalies += count_anomalies(bar)
            ts.append(int(datetime.datetime(d.year, d.month, d.day, 13, 30,
                                            tzinfo=datetime.timezone.utc).timestamp()))
            for k in cols:
                cols[k].append(bar[k])
        closes = cols["close"]
        first = next(i for i, c in enumerate(closes) if c is not None)
        valid_dates[sym] = {ts[i] // 86400 for i in range(first, len(ts))}
        payloads[sym] = json.dumps({"chart": {"result": [{"timestamp": ts, "indicators": {
            "quote": [cols]}}]}}, separators=(",", ":"))
    calendar = set().union(*valid_dates.values())
    kept = sum(len(v) for v in valid_dates.values())
    truth = {"symbols": n_symbols, "calendar_days": len(calendar),
             "aligned_rows": len(calendar) * n_symbols,
             "missing_close": len(calendar) * n_symbols - kept, "anomalies": anomalies}
    requests = []
    for i in range(n_requests):
        a, b = rng.sample(symbols, 2)
        requests.append(("refresh" if i % CYCLE == CYCLE - 1 else "similarity", a, b))
    n_points = {(a, b): len(valid_dates[a] & valid_dates[b]) - 1 for _, a, b in requests}
    return payloads, truth, requests, n_points, symbols


def count_anomalies(bar):
    o, h, lo, c = bar["open"], bar["high"], bar["low"], bar["close"]
    n = 0
    if h is not None and lo is not None:
        n += h < lo
        if c is not None:
            n += c < lo or c > h
        if o is not None:
            n += o < lo or o > h
    return n


def check_similarity(body, a, b, n_points):
    r = json.loads(body)
    m = r["metrics"]
    assert (r["symbol_a"], r["symbol_b"]) == (a, b), "pair"
    for k in ("euclidean", "pearson", "dtw", "cosine"):
        assert isinstance(m[k], float) and math.isfinite(m[k]), f"metric {k}"
    assert m["n_points"] == n_points, f"n_points {m['n_points']} != {n_points}"


def check_refresh(out_dir, a, b, n_points, symbols):
    def load(name):
        with open(os.path.join(out_dir, name)) as f:
            return json.load(f)
    assert load("symbols.json")["symbols"] == symbols, "symbols.json"
    heat = load("heatmap.json")
    k = len(symbols)
    assert heat["symbols"] == symbols and len(heat["matrix"]) == k and all(
        len(row) == k and all(isinstance(x, float) for x in row) for row in heat["matrix"]), "heatmap k x k"
    risk = load("risk.json")
    classes = ("Conservador", "Moderado", "Agresivo")
    cls = risk["classifications"]
    assert sorted(c["symbol"] for c in cls) == symbols, "risk symbols"
    assert all(c["risk_class"] in classes for c in cls), "risk classes"
    assert sorted(c["rank"] for c in cls) == list(range(1, k + 1)), "risk ranks"
    assert sum(risk["summary"].values()) == k and set(risk["summary"]) == set(classes), "risk summary"
    with open(os.path.join(out_dir, "similarity.json")) as f:
        check_similarity(f.read(), a, b, n_points)
    with open(os.path.join(out_dir, "report.pdf"), "rb") as f:
        pdf = f.read()
    assert pdf.startswith(b"%PDF-") and pdf.rstrip().endswith(b"%%EOF"), "report.pdf"


def check_wide_csv(csv_dir, truth, symbols):
    parts = glob.glob(os.path.join(csv_dir, "part-*.csv"))
    assert len(parts) == 1, "one wide CSV part"
    with open(parts[0]) as f:
        header = f.readline().rstrip("\n").split(",")
        rows = sum(1 for _ in f)
    want = ["Date"] + [f"{s}_{fld}" for s in symbols for fld in ("Open", "High", "Low", "Close", "Volume")]
    assert sorted(header) == sorted(want), "wide CSV header"
    assert rows == truth["calendar_days"], f"wide CSV rows {rows} != {truth['calendar_days']}"


def run_reference_pipeline(spec, env, run_dir, seed, seconds, trace):
    # a warm-up cycle, then the timed cycles
    payloads, truth, requests, n_points, symbols = generate_pipeline(seed, CYCLE * (1 + rounds(seconds)))
    os.makedirs(run_dir, exist_ok=True)
    payloads_tsv = os.path.join(run_dir, "payloads.tsv")
    with open(payloads_tsv, "w") as f:
        f.writelines(f"{s}\t{j}\n" for s, j in payloads.items())
    requests_tsv = os.path.join(run_dir, "requests.tsv")
    with open(requests_tsv, "w") as f:
        f.writelines("\t".join(r) + "\n" for r in requests)
    work = os.path.join(run_dir, "work")
    main = launch(spec, env, os.path.join(run_dir, "main"),
                  ["pipeline", str(trace), payloads_tsv, requests_tsv, work, str(CYCLE)])
    failures = {}
    etl = main["ops"][0]
    if not etl["ok"]:
        failures["etl"] = etl["error"]
    elif main["report"] != truth:
        failures["etl"] = f"report {main['report']} != truth {truth}"
    else:
        try:
            check_wide_csv(main["csv_dir"], truth, symbols)
        except (AssertionError, OSError) as e:
            failures["etl"] = f"wide CSV: {e}"
    if not main["ops"][1]["ok"]:
        failures["load"] = main["ops"][1]["error"]
    for i, (op, resp) in enumerate(zip(main["ops"][2:], main["responses"])):
        key = f"{i}:{op['name']}"
        if not op["ok"]:
            failures[key] = op["error"]
            continue
        try:
            pair = n_points[(resp["a"], resp["b"])]
            if resp["kind"] == "similarity":
                check_similarity(resp["body"], resp["a"], resp["b"], pair)
            else:
                check_refresh(resp["out_dir"], resp["a"], resp["b"], pair, symbols)
        except (AssertionError, KeyError, ValueError, OSError) as e:
            failures[key] = f"output check: {e}"
    return main, failures, {"truth": truth}


WORKLOADS = {"catalog_small": run_catalog_small, "reference_pipeline": run_reference_pipeline}


# --------------------------------------------------------------------------
# Metrics


def metrics(main, failures, trace):
    """End-to-end metrics, or with `trace` the per-layer ones, of the run
    whose workload JVM record is `main`."""
    ops = main["ops"]
    lat = [op["latency_s"] for op in ops if op["timed"]]
    failed_timed = sum(1 for op in ops if op["timed"] and not op["ok"])
    m = {"setup_s": main["setup_s"] + main["warmup_s"],
         "ops_per_s": (len(lat) - failed_timed) / main["timed_s"],
         "latency_p50_s": statistics.median(lat),
         "cpu_s": main["cpu_s"]}
    if not trace:
        return m
    probes = main.get("probes", {})
    layer = {k: sum(op.get(k, 0) for op in ops) + probes.get(k, 0) for k in SUMMED}
    skews = [x for op in ops for x in op.get("exec.stage_skews", [])]
    layer["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    layer["jvm.code_cache_peak_mb"] = main["jvm.code_cache_peak_mb"]
    layer["jvm.heap_peak_mb"] = main["jvm.heap_peak_mb"]
    layer["jvm.rss_peak_mb"] = main["rss_peak_mb"]
    layer["Graft.session_s"] = main["session_s"]
    layer["failed_frac"] = len(failures) / len(ops)
    layer["latency_p90_s"] = statistics.quantiles(lat, n=10, method="inclusive")[-1]
    layer["trace.ops_per_s"] = m["ops_per_s"]
    layer["trace.cpu_s"] = m["cpu_s"]
    return layer


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(OUT, name)
    try:
        env = engine_env()
        spec = ensure_build(env)
        shutil.rmtree(run_dir, ignore_errors=True)
        main_proc, failures, info = WORKLOADS[a.workload](spec, env, run_dir, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    attempted = len(main_proc["ops"])
    units = PER_LAYER if a.trace else END_TO_END
    values = metrics(main_proc, failures, a.trace)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "java_options": spec["java_options"], "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
              "spark_driver_mem": env["SPARK_DRIVER_MEM"], "failures": failures, "info": info,
              "metrics": values, "process": main_proc}
    if a.trace:
        untraced = os.path.join(OUT, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            record["tracing_overhead"] = {
                "ops_per_s": values["trace.ops_per_s"] - base["ops_per_s"],
                "cpu_s": values["trace.cpu_s"] - base["cpu_s"]}
            print("tracing overhead (traced - untraced, same seed): " + json.dumps(record["tracing_overhead"]))
    with open(os.path.join(OUT, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, msg in sorted(failures.items()):
        print(f"FAIL {k}: {msg}")
    print("env: " + json.dumps({k: main_proc["env"][k] for k in ("sha", "git_dirty", "cpus", "heap_max_mb",
                                                                  "jvm_args", "steal_s", "loadavg", "jit_ms")}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
