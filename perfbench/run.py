#!/usr/bin/env python3
"""Benchmark of the cache -> serve -> predict chain and the declared queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cine_chain --seed 1 --seconds 20 --trace 0

Workloads: cine_chain, queries_mix, cine_wide (see perfbench/README.md).
The first run in a checkout compiles the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the classes while the sources are
unchanged. Each run starts one JVM for one workload, reads back the event
log it writes, checks query results against their DuckDB oracles, prints a
human-readable report line, and as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("cine_chain", "queries_mix", "cine_wide")
# end-to-end names of the paper-level report; a workload fills the ones it
# exercises and reports the rest as null
REPORT_METRICS = [
    ("setup_s", "s"), ("cache_build_s", "s"), ("cache_hit_s", "s"),
    ("serve_slices_per_s", "1/s"), ("weighted_draws_per_s", "1/s"),
    ("predict_slices_per_s", "1/s"), ("chain_s", "s"), ("query_p50_s", "s"),
    ("query_p90_s", "s"), ("suite_s", "s"), ("ops_failed_share", "share"),
    ("peak_rss_mb", "MB"), ("cache_bytes_per_input_byte", "ratio")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, or the distribution that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME", 3)
    return home


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


# --------------------------------------------------------------------- build

def source_stamp():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile with sbt unless the classes match the current sources.
    Returns the classes directory and whether this call compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft in this checkout", 3)
    os.makedirs(bdir, exist_ok=True)
    classes = os.path.join(bdir, "sbt-target", "scala-2.13", "classes")
    stamp_file = os.path.join(bdir, "build.stamp")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classes, False
        tmp = os.path.join(bdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, PERFBENCH_BUILD=bdir, COURSIER_MODE="offline", TMPDIR=tmp,
                   SPARK_HOME=spark_home(),
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(bdir, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=840).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                fail(f"build did not run: {e}", 4)
        if rc != 0 or not os.path.isdir(classes):
            tail = open(log).read()[-3000:]
            fail(f"build failed (see {log}):\n{tail}", 4)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return classes, True


# ----------------------------------------------------------------------- run

def run_jvm(args, classes, out, deadline):
    """One JVM for one workload; killed (with its process group) at the deadline."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_home(), "jars", "*")])
    # a fixed heap: the collector's heap sizing otherwise differs from run to
    # run and moves the pass times with it
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(out, 'derby')}",
            "-cp", cp, "perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--smoke", "1" if args.smoke else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), TMPDIR=tmp)
    env.pop("SPARK_MASTER", None)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
            timed_out = False
        except subprocess.TimeoutExpired:
            rc, timed_out = None, True
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return rc, timed_out


def read_events(out):
    path = os.path.join(out, "events.jsonl")
    if not os.path.exists(path):
        return []
    evs = []
    with open(path) as fh:
        for line in fh:
            try:
                evs.append(json.loads(line))
            except ValueError:
                pass  # a line cut short by a dying JVM
    return evs


# ----------------------------------------------------------- oracle (DuckDB)

def oracle_checks(results, tables_dir, names):
    """Compare each dumped Spark result with its DuckDB oracle, normalised by
    tools/check_oracle.py's `norm` (columns sorted by name, doubles rounded to
    6 decimals) and compared row by row, as that script does: an int column
    against a float one fails. Rows-only queries must be non-empty."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import TABLES, norm

    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet/*.parquet'")
    checks = []
    for name in names:
        d = os.path.join(results, name)
        if not glob.glob(os.path.join(d, "*.parquet")):
            checks.append((f"oracle:{name}", False, "no Spark result"))
            continue
        s = pd.read_parquet(d)
        if name not in oracle:
            checks.append((f"oracle:{name}", len(s) > 0, f"rows-only, {len(s)} rows"))
            continue
        try:
            o = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the check
            checks.append((f"oracle:{name}", False, f"oracle SQL error: {str(e)[:200]}"))
            continue
        s, o = norm(s), norm(o)
        if list(s.columns) != list(o.columns):
            checks.append((f"oracle:{name}", False, f"columns {list(s.columns)} vs {list(o.columns)}"))
            continue
        if len(s) != len(o):
            checks.append((f"oracle:{name}", False, f"rows {len(s)} vs {len(o)}"))
            continue
        bad = [c for c in s.columns if {s[c].dtype.kind, o[c].dtype.kind} == {"f", "i"}]
        for c in s.columns:
            a, b = s[c], o[c]
            eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
            if not eq.all():
                bad.append(c)
        checks.append((f"oracle:{name}", not bad,
                       f"mismatch in {bad[:3]}" if bad else f"{len(s)} rows match"))
    return checks


# ------------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(label, value) of the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    k = len(xs) - 11
    return f"p{math.floor(100 * (k + 1) / len(xs))}", xs[k]


def summarize(evs, args, extra_checks, jvm_rc, timed_out):
    plan = next((e for e in evs if e["ev"] == "plan"), {"ops": [], "checks": []})
    ops = [e for e in evs if e["ev"] == "op"]
    checks = [(e["name"], e["ok"], e["detail"]) for e in evs if e["ev"] == "check"]
    checks += extra_checks
    done = any(e["ev"] == "done" for e in evs)
    failures = [dict(pass_=e["pass"], op=e["op"], error_class=e.get("error_class"),
                     stage=e.get("stage"), error=e.get("error")) for e in ops if not e["ok"]]
    attempted, failed = len(ops), len(failures)
    if not done:
        # the JVM died: the op in flight and the rest of its pass failed,
        # and every check that never ran counts as failed too
        begins = [e for e in evs if e["ev"] == "begin"]
        cause = "JVM timed out" if timed_out else f"JVM exited with code {jvm_rc}"
        if begins and not any(o["pass"] == begins[-1]["pass"] and o["op"] == begins[-1]["op"]
                              for o in ops):
            last = begins[-1]
            rest = plan["ops"][plan["ops"].index(last["op"]):] if last["op"] in plan["ops"] else [last["op"]]
            for name in rest:
                failures.append(dict(pass_=last["pass"], op=name, error_class="JvmDied",
                                     stage="(process)", error=cause))
            attempted += len(rest)
            failed += len(rest)
        elif not ops:
            failures.append(dict(pass_=-1, op="setup", error_class="JvmDied",
                                 stage="(process)", error=cause))
            attempted += 1
            failed += 1
        ran = {c[0] for c in checks}
        for name in plan["checks"]:
            if name not in ran:
                checks.append((name, False, f"not run: {cause}"))
    attempted += len(checks)
    failed += sum(1 for c in checks if not c[1])

    env = next((e for e in evs if e["ev"] == "env"), {})
    items = next((e["per_op"] for e in evs if e["ev"] == "items"), {})
    facts = next((e["facts"] for e in evs if e["ev"] == "facts"), {})
    layers = next((e for e in evs if e["ev"] == "layers"), None)
    setups = [e["s"] for e in evs if e["ev"] == "setup"]
    plain = [e for e in ops if e["ok"] and e["kind"] == "plain"]
    passes = [e["s"] for e in evs if e["ev"] == "pass" and e["ok"] and e["kind"] == "plain"]
    rss = [e.get("rss_mb", -1) for e in evs if e["ev"] in ("op", "done")]
    peak_rss = max(rss) if rss else None

    def op_secs(name):
        return [e["s"] for e in plain if e["op"] == name]

    def rate(name):
        secs = sum(op_secs(name))
        return items[name] * len(op_secs(name)) / secs if secs > 0 and name in items else None

    served_items = sum(items.get(e["op"], 0) for e in plain)
    served_secs = sum(e["s"] for e in plain if e["op"] in items)
    warmup = [e["s"] for e in evs if e["ev"] == "pass" and e["kind"] == "warmup"]
    e2e = {
        "setup_s": median(setups),
        "pass_s": median(passes),
        "throughput_per_s": served_items / served_secs if served_secs > 0 else None,
    }

    report = {name: None for name, _ in REPORT_METRICS}
    report["setup_s"] = e2e["setup_s"]
    report["ops_failed_share"] = failed / attempted if attempted else None
    report["peak_rss_mb"] = peak_rss
    report["warmup_pass_s"] = warmup[0] if warmup else None
    report["samples"] = {"setup": len(setups), "passes": len(passes), "ops": len(plain)}
    if args.workload.startswith("cine"):
        report["cache_build_s"] = median(op_secs("cache_build"))
        report["cache_hit_s"] = median(op_secs("cache_hit"))
        report["serve_slices_per_s"] = rate("train_epoch")
        report["weighted_draws_per_s"] = rate("weighted_draw")
        report["predict_slices_per_s"] = rate("predict")
        report["chain_s"] = e2e["pass_s"]
        report["cache_bytes_per_input_byte"] = facts.get("cache_bytes_per_input_byte")
    else:
        qs = [e["s"] for e in plain]
        report["query_p50_s"] = median(qs)
        label, value = tail(qs)
        report["query_p90_s"] = value
        report["query_tail_percentile"] = label
        report["suite_s"] = e2e["pass_s"]
    return dict(
        correct=failed == 0, attempted=attempted, failed=failed, e2e=e2e, report=report,
        report_units=dict(REPORT_METRICS), failures=failures, checks=checks, env=env,
        facts=facts, layers=layers,
        persisted_rdds=[(e["pass"], e["op"], e.get("persisted_rdds")) for e in ops])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one repetition")
    args = ap.parse_args()
    started = time.time()
    if not os.path.exists(SPEC):
        fail("BENCHMARK.json not found at the checkout root", 3)
    spec = json.load(open(SPEC))

    bdir = build_dir()
    classes, built = ensure_built(bdir)
    out = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # 180 s per run, 900 s for the run that compiles
    deadline = min(started + 880, time.time() + 170) if built else started + 170
    rc, timed_out = run_jvm(args, classes, out, deadline)
    evs = read_events(out)
    extra = []
    if args.workload == "queries_mix":
        facts = next((e["facts"] for e in evs if e["ev"] == "facts"), None)
        plan = next((e for e in evs if e["ev"] == "plan"), None)
        results = os.path.join(out, "results")
        if facts and plan and os.path.exists(os.path.join(results, "oracle_sql.json")):
            extra = oracle_checks(results, facts["tables_dir"], plan["ops"])
        elif plan:
            extra = [(f"oracle:{q}", False, "no results were dumped") for q in plan["ops"]]
    s = summarize(evs, args, extra, rc, timed_out)

    metrics = {}
    if args.trace:
        layer_vals = (s["layers"] or {}).get("metrics", {})
        for m in spec["per_layer"]:
            v = layer_vals.get(m["name"])
            if isinstance(v, (int, float)):  # a non-finite value is written as a string
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            v = s["e2e"].get(m["name"])
            if v is not None:
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "metrics": {k: {"value": v, "unit": s["report_units"].get(k, "")}
                          for k, v in s["report"].items()},
              "failures": s["failures"], "checks": s["checks"],
              "persisted_rdds": s["persisted_rdds"], "facts": s["facts"],
              "env": s["env"], "layers": s["layers"], "artifacts": out}
    with open(os.path.join(out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for d in ("work", "tmp", "warehouse", "derby"):  # generated inputs and caches
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    brief = {k: v["value"] for k, v in report["metrics"].items()}
    print("perfbench report " + json.dumps({
        "workload": args.workload, "metrics": {k: [v, s["report_units"].get(k, "")]
                                               for k, v in brief.items()},
        "checks_passed": sum(1 for c in s["checks"] if c[1]), "checks": len(s["checks"]),
        "failures": [(f["op"], f["error_class"], f["stage"]) for f in s["failures"]][:8],
        "box_factor": s["env"].get("box_factor"), "report": os.path.join(out, "report.json")}))
    print(json.dumps({"correct": s["correct"], "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
