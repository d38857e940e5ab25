"""Workload benchmark for graft. See perfbench/README.md.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all            # every workload, seeds 1 and 2

Run from the repository root. One run builds the program if needed
(perfbench/build.py), generates the seed's inputs if needed
(perfbench/gen.py), starts one JVM that runs the workload through graft's
public functions, checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. Diagnostics
(sample counts, host noise, span coverage, tracing overhead) go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analyst", "nightly")
DATA_ROOT = HERE / ".data"
RUN_ROOT = HERE / ".run"
KEEP_SEEDS = 12
# Every run except a checkout's first (which builds) must finish in 180 s;
# the measured JVM normally takes 50-80 s.
JVM_DEADLINE_S = 150
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def heap():
    """Half of RAM, clamped to 2-8 GB (the rule the repo's tests use)."""
    kb = 4 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare(root, seed):
    """Untimed, once per seed: the inputs."""
    data, meta = gen.generate(root, seed, DATA_ROOT)
    os.utime(data)
    seeds = sorted(DATA_ROOT.glob("seed-*"), key=lambda p: p.stat().st_mtime)
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return data, meta


def jvm(classes, args, work):
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the work dir
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={work / 'local'}",
              f"-Dspark.sql.warehouse.dir={work / 'catalog'}",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main"]
           + [str(a) for a in args])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: JVM did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def check_analyst(root, data, work, res):
    """Each key's result equals DuckDB running its oracle SQL on the same
    tables, compared with tools/check_oracle.py's canonical form."""
    import importlib.util
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", Path(root) / "tools" / "check_oracle.py")
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/corpus/{t}.parquet'")
    def digest(rel):
        rows = oracle.canon(rel.fetchall(), rel.columns)
        return len(rows), hashlib.sha256(
            repr((sorted(rel.columns), rows)).encode()).hexdigest()

    # DuckDB's answer depends only on the seed's tables and the oracle SQL,
    # so it is computed once per (seed, SQL) and kept with the inputs
    cache = data / "oracle"
    cache.mkdir(exist_ok=True)
    out = {}
    for key in res["info"]["keys"]:
        sql = res["info"]["oracle"].get(key)
        try:
            got = digest(con.sql(f"SELECT * FROM read_parquet('{work}/results/{key}/*.parquet')"))
            path = cache / f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json"
            if path.exists():
                want = tuple(json.loads(path.read_text()))
            else:
                want = digest(con.sql(sql))
                path.write_text(json.dumps(want))
            ok = got == want and want[0] > 0
        except Exception as e:  # a missing result or oracle is a failed check
            log(f"check {key}: {e}")
            ok = False
        out[f"oracle_{key}"] = ok
    return out


def check_nightly(data, work, meta, res):
    import datetime as dt
    out = {}
    fields = ["id", "club", "points", "match", "win", "draw", "loss",
              "goal_for", "goal_against", "goal_diff"]
    for d in meta["dates"]:
        path = work / "checks" / f"standings-{d}.jsonl"
        got = [json.loads(x) for x in path.read_text().splitlines()] if path.exists() else []
        want = gen.standings(data, dt.date.fromisoformat(d))
        key = lambda r: (r["league"], r["id"])
        ok = (len(got) == len(want) > 0
              and all(r["points"] == 3 * r["win"] + r["draw"] for r in got)
              and [[r[f] for f in ["league"] + fields] for r in sorted(got, key=key)]
              == [[r[f] for f in ["league"] + fields] for r in sorted(want, key=key)])
        out[f"standings_{d}"] = ok
    path = work / "checks" / "retail-preview.jsonl"
    got = [json.loads(x) for x in path.read_text().splitlines()] if path.exists() else []
    want = meta["retail_preview"]

    def same(a, b):
        return all((abs(a.get(k) - v) < 1e-9) if isinstance(v, float) else a.get(k) == v
                   for k, v in b.items())
    out["retail_preview"] = len(got) == len(want) and all(map(same, got, want))
    return out


def e2e_metrics(res, launch):
    """End-to-end metrics from the timed samples, keyed "<class>:<op>".

    Each operation's samples reduce to their median, and a class to the
    mean of those medians: every operation counts once however often it
    ran, and short operations, whose relative noise is largest, do not
    dominate the figure."""
    wall = {}
    for key, xs in res["samples"].items():
        cls, name = key.split(":", 1)
        wall.setdefault(cls, {})[name] = statistics.median(xs)
    if not wall.get("op") or not wall.get("heavy"):
        raise SystemExit(f"perfbench: missing timed samples ({sorted(res['samples'])})")
    if "rate" in wall:
        rate = res["info"]["rate_items"] / statistics.fmean(wall["rate"].values())
    else:
        ops = [x for k, xs in res["samples"].items() if k.startswith("op:") for x in xs]
        rate = len(ops) / sum(ops)
    return {
        "setup_s": (res["setup_end_ms"] / 1000.0 - launch, "s"),
        "op_s": (statistics.fmean(wall["op"].values()), "s"),
        "heavy_op_s": (statistics.fmean(wall["heavy"].values()), "s"),
        "throughput_per_s": (rate, "1/s"),
    }


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def run_one(root, workload, seed, seconds, trace):
    t_start = time.time()
    phases = {}
    classes = build.build(root) / "classes"
    phases["build_s"] = time.time() - t_start
    data, meta = prepare(root, seed)
    phases["inputs_s"] = time.time() - t_start - phases["build_s"]
    work = RUN_ROOT / f"{workload}-seed{seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    extra = {"analyst": [],
             "nightly": [",".join(meta["dates"]), meta["retail_rows"],
                         meta["stream_rows"]]}[workload]
    cpus = len(os.sched_getaffinity(0))
    result = work / "result.json"
    # flush what earlier runs and input generation wrote, so its writeback
    # does not land inside this run's timing
    os.sync()
    host0, load0 = cpu_times(), loadavg()
    launch = time.time()
    rc = jvm(classes, [workload, data, work, seconds, int(trace), seed, cpus, result]
             + extra, work)
    host1, load1 = cpu_times(), loadavg()
    phases["jvm_s"] = time.time() - launch
    if rc != 0 or not result.exists():
        raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")
    res = json.loads(result.read_text())

    checks = dict(res["checks"])
    if workload == "analyst":
        checks.update(check_analyst(root, data, work, res))
    elif workload == "nightly":
        checks.update(check_nightly(data, work, meta, res))
    phases["checks_s"] = time.time() - launch - phases["jvm_s"]
    py_checks = len(checks) - len(res["checks"])
    py_failed = sum(1 for k, v in checks.items() if not v and k not in res["checks"])
    attempted = res["attempted"] + py_checks
    failed = res["failed"] + py_failed
    e2e = e2e_metrics(res, launch)

    steal = (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
    diag = {"workload": workload, "seed": seed, "trace": trace,
            "samples": {k: [round(x, 3) for x in v] for k, v in res["samples"].items()},
            "timed_s": res["timed_s"],
            "peak_rss_mb": res["info"]["peak_rss_mb"],
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "host": {"nproc": cpus, "loadavg_start": load0, "loadavg_end": load1,
                     "steal_share": round(steal, 4)},
            "failed_checks": sorted(k for k, v in checks.items() if not v),
            "errors": res["errors"][:10],
            "info": {k: v for k, v in res["info"].items() if k not in ("oracle", "keys")}}
    last = RUN_ROOT / "last"
    last.mkdir(parents=True, exist_ok=True)
    (last / f"{workload}-seed{seed}-trace{int(trace)}.json").write_text(
        json.dumps({k: v[0] for k, v in e2e.items()}))
    if trace:
        tr = res["trace"]
        (last / f"{workload}-seed{seed}-spans.json").write_text(json.dumps(tr["span_rows"]))
        diag["coverage"] = {k: tr[k] for k in
                            ("timed_wall_s", "covered_s", "uncovered_s", "spans")}
        base = last / f"{workload}-seed{seed}-trace0.json"
        if base.exists():
            untraced = json.loads(base.read_text())
            diag["tracing_overhead"] = {k: e2e[k][0] - untraced[k] for k in untraced}
        diag["traced_e2e"] = {k: v[0] for k, v in e2e.items()}
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in tr["metrics"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if steal > 0.05:
        log(f"perfbench: WARNING {steal:.1%} of CPU time was stolen during this run")
    log(json.dumps(diag))
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0 and all(checks.values()),
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    root = Path.cwd()
    if not (root / "tools" / "gen_sf.py").exists():
        raise SystemExit("perfbench: run from the repository root "
                         "(tools/gen_sf.py and src/main/scala are needed)")
    if a.workload != "all":
        print(json.dumps(run_one(root, a.workload, a.seed, a.seconds, bool(a.trace))))
        return
    runs = []
    for w in WORKLOADS:
        for seed in (a.seed, a.seed + 1):
            r = run_one(root, w, seed, a.seconds, bool(a.trace))
            runs.append(r)
            for k, m in r["metrics"].items():
                print(f"{w:13s} seed {seed:<4d} {k:32s} {m['value']:14.4f} {m['unit']}")
            print(f"{w:13s} seed {seed:<4d} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}")
    print(json.dumps({"correct": all(r["correct"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": sum(r["failed"] for r in runs),
                      "runs": len(runs)}))


if __name__ == "__main__":
    main()
