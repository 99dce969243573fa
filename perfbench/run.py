"""The repo benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
makes the inputs once per checkout (perfbench/gen_data.py and the TPC-DS
fixture), then starts one JVM that sets up, writes every row's result in
an untimed verification pass, runs the workload's untimed warm-up passes,
and then timed passes of its rows in a seeded order for `--seconds`
(graft.perfbench.Main). The verified results
are checked against their DuckDB oracles with tools/check.py. The last
stdout line is the result: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. Everything a run writes stays under
`.bench_build/` and `target/`. See perfbench/README.md.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(WORK, "data")
WORKLOADS = ("batch_sql", "stream_iterative")
JVM_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402

def java_cmd(*args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    cp = build.OUT_DIR + ":" + os.path.join(build.spark_jars(), "*")
    return (["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            # Spark's default 1 GB driver heap, fixed: the passes up to the
            # first timed one allocate through all of it, so the resident set
            # read after that pass does not depend on when G1 grew the heap
            + ["-Xms1g", "-Xmx1g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "graft.perfbench.Main"] + [str(a) for a in args])


def jvm(*args, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM from the checkout root, with a fresh temp dir;
    its logs go to stderr."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return subprocess.run(java_cmd(*args), cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True, timeout=timeout, check=True).stdout


def cpus():
    return len(os.sched_getaffinity(0))


def prepare():
    """Inputs made once per checkout, by its first run and outside every
    timed region: the generated tables, and the TPC-DS fixture the engine
    would otherwise generate under target/tpcds on first use."""
    for sf in (0.001, 0.01, 0.1):
        gen_data.write(os.path.join(DATA, f"sf{sf}"), sf)
    marker = os.path.join(WORK, "tpcds_tables")
    if os.path.exists(marker):
        with open(marker) as fh:
            if all(os.path.isfile(os.path.join(d, "_SUCCESS")) for d in fh.read().split()):
                return
    dirs = jvm("fixture", cpus())
    with open(marker, "w") as fh:
        fh.write(dirs)


def steal_jiffies():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def oracle_verdicts(data_dir, check_dir):
    """{row: "PASS" or why not} from tools/check.py's own comparison of the
    results under `check_dir` with their DuckDB oracles over `data_dir`."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, check_dir)
    verdicts = {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"(PASS|FAIL) (\S+): (.*)", line)
        if m:
            verdicts[m.group(2)] = m.group(1) if m.group(1) == "PASS" else m.group(3)[:200]
    return verdicts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(run):
    execs = [e for e in run["execs"] if not e["traced"]]
    passes = [p for p in run["passes"] if not p["traced"]]
    by_row = {}
    for e in execs:
        by_row.setdefault(e["row"], []).append(e["s"])
    lat = [e["s"] for e in execs]
    return {
        "setup_s": run["setup_s"],
        "elapsed_s": sum(median(v) for v in by_row.values()),
        "query_p50_s": median(lat),
        "query_p90_s": percentile(lat, 90),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def per_layer(run, names):
    """Each traced pass's row numbers summed per metric, then the median
    over traced passes. Ratios are taken over the pass totals."""
    traced = sorted({e["pass"] for e in run["execs"] if e["traced"]})
    per_pass = []
    for p in traced:
        tot, skews = {}, []
        for e in run["execs"]:
            if e["pass"] == p:
                for k, v in e["layers"].items():
                    tot[k] = tot.get(k, 0.0) + v
                if "operators.task_skew" in e["layers"]:
                    skews.append(e["layers"]["operators.task_skew"])
        tot["operators.task_skew"] = median(skews)
        tot["operators.empty_task_ratio"] = (
            tot.get("operators.empty_tasks", 0.0) / tot["operators.tasks"]
            if tot.get("operators.tasks") else 0.0)
        tot["streaming.empty_batch_ratio"] = (
            tot.get("streaming.empty_batches", 0.0) / tot["streaming.batches"]
            if tot.get("streaming.batches") else 0.0)
        per_pass.append(tot)
    out = {n: median([t.get(n, 0.0) for t in per_pass]) for n in names}
    for k, v in run["setup_phases"].items():
        out[f"session.{k}"] = v
    out["jvm.live_heap_mb"] = run["live_heap_mb"]
    busy = {t: median([q["busy_s"] for q in run["passes"] if q["traced"] == t])
            for t in (True, False)}
    out["tracing.overhead_ms"] = (busy[True] - busy[False]) * 1000
    return out


def span_summary(out):
    """Per-layer self time of a traced run's spans, and the largest gap
    between a row's wall time and the sum of its spans' self times."""
    with open(os.path.join(out, "spans.json")) as fh:
        spans = json.load(fh)
    by_layer, rows = {}, {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + s["self_ms"]
        r = rows.setdefault(s["row"], [0.0, 0.0])
        r[0] += s["self_ms"]
        if s["parent"] == -1:
            r[1] = s["end"] - s["start"]
    return {"self_ms_by_layer": by_layer, "spans": len(spans),
            "max_row_gap_ms": max((abs(a - b) for a, b in rows.values()), default=0.0)}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not inside a spark-graft checkout (missing {missing})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build.build()
    prepare()
    out = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    steal0, total0 = steal_jiffies()
    jvm("run", args.workload, args.seed, args.seconds, args.trace, DATA, out, cpus())
    steal1, total1 = steal_jiffies()
    with open(os.path.join(out, "run.json")) as fh:
        run = json.load(fh)

    verdicts = oracle_verdicts(run["data"], os.path.join(out, "check"))
    rows = sorted({e["row"] for e in run["execs"]} | set(run["verify_errors"]))
    # the verification pass executed every row once more; a row whose
    # result is missing or differs from its oracle counts as one failure
    wrong = {r: run["verify_errors"].get(r) or verdicts.get(r, "NOT CHECKED")
             for r in rows if verdicts.get(r) != "PASS"}
    threw = {f'{e["row"]}#{e["pass"]}': e["error"] for e in run["execs"] if e["error"]}
    attempted = len(run["execs"]) + len(rows)
    failed = len(threw) + len(wrong)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows": len(rows), "timed_passes": len(run["passes"]),
        "oracle": f"{len(rows) - len(wrong)}/{len(rows)} rows match DuckDB",
        "error_rate": failed / attempted,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "calibration_s": run["calibration_s"],
        "live_heap_mb": run["live_heap_mb"],
        "errors": threw, "wrong": wrong,
    }
    if args.trace:
        stamp["spans"] = span_summary(out)
    print(json.dumps(stamp))
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    names = [m["name"] for m in metrics]
    units = {m["name"]: m["unit"] for m in metrics}
    values = per_layer(run, names) if args.trace else end_to_end(run)
    for n in names:
        print(f"{n:32s} {values[n]:>16.6f} {units[n]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    main()
