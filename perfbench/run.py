#!/usr/bin/env python3
"""graft benchmark: medallion pipeline, dashboard reads and an operator-gate mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) into perfbench/target; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, starts one JVM with Spark `local[CORES]` and a single closed-loop
caller, sets up, measures units of work for S seconds, then checks the
outputs against the input facts (and, for gates, against their DuckDB
oracle SQL). It prints one line per metric and, last, one JSON object.
`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
metrics from spans around each layer call plus the tracing overhead.
Exits non-zero when a check fails or the run cannot complete.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
CORES = 4
LANDING_ROWS = 6000    # landing rows over all years and both genders
LANDING_YEARS = 3
GATE_SF = 0.01         # scale of the gate tables (sf 0.1 = 600k lineitem rows)
JVM_TIMEOUT_S = 165

sys.path.insert(0, HERE)
import landing  # noqa: E402
import tables   # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORKLOADS = ["medallion_refresh", "gate_mix"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the stamp matches the sources."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under src/main/scala; run from a full checkout")
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "compile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail("build failed, see " + os.path.relpath(log, ROOT))
    with open(STAMP, "w") as f:
        f.write(digest)


def make_inputs(workload, seed, work):
    """Generates the run's inputs; returns (input dir, manifest)."""
    inputs = os.path.join(work, "inputs")
    if workload == "gate_mix":
        return inputs, {"tables": tables.generate(inputs, seed, GATE_SF)}
    manifest = landing.generate(inputs, seed, LANDING_ROWS, LANDING_YEARS)
    with open(os.path.join(inputs, "files.tsv"), "w") as f:
        for x in manifest["files"]:
            f.write("%s\t%d\t%s\t%d\n" % (x["path"], x["year"], x["gender"], x["bytes"]))
    return inputs, manifest


def run_jvm(a, inputs, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    report = os.path.join(work, "report.json")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # a fixed, pre-touched heap keeps peak RSS from following G1's
    # heap-growth decisions and how much of the heap a run happens to touch
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in opens for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", "--workload", a.workload, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--inputs", inputs, "--work", work, "--out", report,
              "--cores", str(CORES)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(report):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("benchmark JVM failed (%s)" % rc)
    with open(report) as f:
        r = json.load(f)
    r["jvm_start_s"] = r["session_ready_ms"] / 1000.0 - launched
    r["jvm_wall_s"] = time.time() - launched
    return r


class Checks:
    def __init__(self):
        self.results = []

    def eq(self, name, got, want):
        self.results.append((name, got == want, got, want))


def check_pipeline(c, obs, facts):
    rows = obs["rows"]
    for t in ("bronze_ironman_results", "silver_ironman_results", "gold_fact_race_results"):
        c.eq("rows." + t, rows[t], facts["rows"])
    c.eq("rows.gold_dim_athletes", rows["gold_dim_athletes"], facts["distinct_athletes"])
    c.eq("rows.gold_dim_countries", rows["gold_dim_countries"], facts["distinct_countries"])
    c.eq("rows.gold_dim_divisions", rows["gold_dim_divisions"], facts["distinct_divisions"])
    for t, n in obs["duplicate_row_keys"].items():
        c.eq("unique_row_key." + t, n, 0)
    fk = obs["fk_audit"]
    c.eq("fk.unmatched_athletes", fk["unmatched_athletes"], 0)
    c.eq("fk.unmatched_divisions", fk["unmatched_divisions"], 0)
    c.eq("fk.unmatched_countries", fk["unmatched_countries"], facts["blank_country_rows"])
    c.eq("fact_equals_full_load", obs["fact_rows_differing_from_full_load"], 0)


def check_dashboard(c, obs, facts):
    c.eq("passes_equal_first", obs["passes_differing_from_first"], 0)
    cols = obs["view_columns"]
    kpi = [dict(zip(cols["vw_kpi_metrics"], r.split("|"))) for r in obs["view_rows"]["vw_kpi_metrics"]]
    d = facts["designations"]
    c.eq("vw_kpi_metrics.total_athletes", int(kpi[0]["total_athletes"]), facts["rows"])
    c.eq("vw_kpi_metrics.total_finishers", int(kpi[0]["total_finishers"]), d.get("FINISHER", 0))
    c.eq("vw_kpi_metrics.total_dnf", int(kpi[0]["total_dnf"]), d.get("DNF", 0))
    c.eq("vw_kpi_metrics.total_dns", int(kpi[0]["total_dns"]), d.get("DNS", 0))
    by_year = {}
    for r in obs["view_rows"]["vw_athletes_by_year"]:
        v = dict(zip(cols["vw_athletes_by_year"], r.split("|")))
        by_year["%s_%s" % (v["year"], v["gender"])] = int(v["total_athletes"])
    c.eq("vw_athletes_by_year", by_year, facts["rows_by_year_gender"])


def check_gates(c, obs, inputs):
    c.eq("passes_equal_first", obs["passes_differing_from_first"], 0)
    out = obs["results_dir"]
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump(obs["oracle_sql"], f)
    res = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                          inputs, out], capture_output=True, text=True, stdin=subprocess.DEVNULL)
    verdict = {}
    for line in res.stdout.splitlines():
        parts = line.split()
        if parts and parts[0] in ("PASS", "FAIL", "NOORACLE"):
            verdict[parts[1].rstrip(":")] = parts[0]
    for name in obs["oracle_sql"]:
        c.eq("oracle." + name, verdict.get(name), "PASS")
        # the timed passes count the rows the checked warm-up pass wrote
        written = pq.ParquetDataset(os.path.join(out, name)).read().num_rows
        c.eq("count." + name, obs["counts"].get(name), written)


def percentile(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[math.ceil(q * len(xs)) - 1]


def end_to_end(r, input_s):
    units = [u for u in r["units"] if not u["traced"]]
    requests = [q for u in units for q in u["requests"]]
    setup = input_s + r["jvm_start_s"] + r["setup_s"]
    return {
        "setup_s": (setup, "s", 1),
        "run_s": (statistics.median(u["s"] for u in units), "s", len(units)),
        "query_s_p50": (statistics.median(requests), "s", len(requests)),
        "cpu_s": (statistics.median(u["cpu_s"] for u in units), "s", len(units)),
        "peak_rss_mb": (r["peak_rss_mb"], "MiB", 1),
    }


def per_layer(r, manifest, names):
    """The per-layer metrics BENCHMARK.json lists; a layer this workload
    never calls reads 0."""
    layers = dict(r["layers"])
    traced = [u["s"] for u in r["units"] if u["traced"]]
    plain = [u["s"] for u in r["units"] if not u["traced"]]
    layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    obs = r["observations"]
    if "tables" in obs:
        for t, v in obs["tables"].items():
            for k in ("files", "bytes", "history_bytes"):
                layers["operators.TableStore.%s.%s" % (t, k)] = v[k]
        last = r["units"][-1]
        layers["operators.TableStore.write_amp"] = last["out_bytes"] / obs["landing_bytes"]
        layers["operators.TableStore.space_amp"] = (obs["warehouse_bytes"]
                                                    / obs["landing_bytes_to_date"])
        last, dims = manifest["last_year"], {
            "gold_dim_athletes": "distinct_athletes", "gold_dim_countries": "distinct_countries",
            "gold_dim_divisions": "distinct_divisions"}
        for t, files in obs["files_written"].items():
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            delta = last[dims[t]] if t in dims else last["rows"]
            layers["operators.Merge.%s.rewrite_ratio" % t] = rows / delta
    return {n: (layers.get(n, 0.0), u, None) for n, u in names}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--spans-out", help="trace mode: copy the recorded spans (JSON lines) here")
    a = p.parse_args()
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    build()
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        inputs, manifest = make_inputs(a.workload, a.seed, work)
        input_s = time.time() - t0
        r = run_jvm(a, inputs, work)
        print("phases: inputs %.1f s, jvm start %.1f s, set-up %.1f s, units [%s] s, "
              "checks %.1f s, jvm total %.1f s" % (
                  input_s, r["jvm_start_s"], r["setup_s"],
                  " ".join("%.2f%s" % (u["s"], "t" if u["traced"] else "") for u in r["units"]),
                  r["observe_s"], r["jvm_wall_s"]), file=sys.stderr)

        c = Checks()
        obs = r["observations"]
        c.eq("units_failed", r["failed_units"], 0)
        if "error" in obs:
            c.eq("observations", obs["error"], None)
        elif a.workload == "medallion_refresh":
            check_pipeline(c, obs, manifest["all"])
            check_dashboard(c, obs, manifest["all"])
        else:
            check_gates(c, obs, inputs)

        if a.trace:
            metrics = per_layer(r, manifest, [(m["name"], m["unit"]) for m in bench["per_layer"]])
            if a.spans_out:
                shutil.copy(os.path.join(work, "spans.jsonl"), a.spans_out)
        else:
            metrics = end_to_end(r, input_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("phases: run total %.1f s" % (time.time() - started), file=sys.stderr)
    failed_checks = [x for x in c.results if not x[1]]
    attempted = len(r["units"]) + r["failed_units"] + len(c.results)
    failed = r["failed_units"] + len(failed_checks)
    for name, ok, got, want in failed_checks:
        print("CHECK FAILED %s: got %r, want %r" % (name, got, want))
    print("workload %s seed %d cores %d units %d checks %d/%d passed" % (
        a.workload, a.seed, r["cores"], len(r["units"]), len(c.results) - len(failed_checks),
        len(c.results)))
    for name, (v, unit, n) in metrics.items():
        print("%-48s %14.6g %-6s%s" % (name, v, unit, "" if n is None else " n=%d" % n))
    # printed, not reported: a run has too few requests for a steady p90,
    # and error_rate is carried by "attempted" and "failed"
    if not a.trace:
        requests = [q for u in r["units"] for q in u["requests"]]
        print("%-48s %14.6g %-6s n=%d" % ("query_s_p90", percentile(requests, 0.9), "s",
                                          len(requests)))
    print("%-48s %14.6g %-6s n=%d" % ("error_rate", failed / attempted, "ratio", attempted))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
