#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload sync_poll --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 10]

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. A run generates its
inputs from --seed, starts one JVM (local[k], k = min(4, nproc)), checks
the outputs after the timed region, prints a readable summary and, as the
last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The exit code is non-zero when the build, the run or an output check fails.
--all runs every workload once, untraced then traced, and prints every
end-to-end metric under its per-workload name plus the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repo's own build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    root_build = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  root_build.read_text() if root_build.exists() else "")
    return Path(m.group(1) if m else "jars")


SPARK_JARS = spark_jars()
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "build.stamp"
TRACES = BENCH / ".traces"
JVM_TIMEOUT_S = 160
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Input sizes per workload (generated from --seed in every run).
SIZES = {
    "sync_poll": dict(base_keys=25_000, base_update_share=0.3, users=5_000,
                      batches=60, batch_rows=2_000, insert_share=0.7,
                      idle_every=4),
    "query_mix": dict(scale=1.0, docs=500, vecs=500),
}
WORKLOADS = list(SIZES)

# Per-workload reading of each end-to-end metric, for the readable summary.
E2E_NAMES = {
    "sync_poll": {"latency_p50_s": "sync_poll.freshness_s.p50",
                  "latency_p90_s": "sync_poll.freshness_s.p90",
                  "throughput_per_s": "sync_poll.rows_per_s",
                  "stored_bytes_per_row": "sync_poll.dest_bytes_per_row"},
    "query_mix": {"latency_p50_s": "query_mix.latency_s.p50",
                  "latency_p90_s": "query_mix.latency_s.p90",
                  "throughput_per_s": "query_mix.queries_per_s",
                  "stored_bytes_per_row": "query_mix.index_bytes_per_row"},
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# -------------------------------------------------------------------- build

def source_stamp() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + \
        sorted((BENCH / "src").rglob("*")) + \
        [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> None:
    """Compile the repo's main sources plus perfbench/src, unless unchanged."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no program sources at src/main/scala "
                         "(run from the root of a full checkout)")
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=str(SPARK_JARS))
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts = (f"-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={repos} " + opts)
    env["SBT_OPTS"] = opts
    log("perfbench: building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=850)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: build failed (rc={p.returncode})")
    STAMP.write_text(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f}s")


# ---------------------------------------------------------------------- run

def generate(workload: str, seed: int, inputs: Path) -> dict:
    import gen
    sz = SIZES[workload]
    if workload == "sync_poll":
        return gen.gen_sync_poll(seed, inputs, **sz)
    return gen.gen_fixture(seed, inputs, **sz)


def run_jvm(args, cores: int, inputs: Path, work: Path) -> dict:
    cp = f"{CLASSES}:{SPARK_JARS}/*"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    cmd = ["java", "-cp", cp, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-XX:+UseParallelGC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--inputs", str(inputs), "--work", str(work), "--out", str(out)]
    if args.trace:
        cmd += ["--spans", str(spans_file(args))]
    logf = work / "jvm.log"
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not out.exists():
        log(logf.read_text()[-4000:])
        raise SystemExit(f"perfbench: JVM run failed (rc={rc})")
    return json.loads(out.read_text())


def spans_file(args) -> Path:
    """Where a traced run leaves its span record (outside the run directory,
    which is deleted at exit)."""
    TRACES.mkdir(parents=True, exist_ok=True)
    return TRACES / f"{args.workload}-s{args.seed}.spans.json"


def cpu_times() -> list:
    """The host's aggregate CPU times from /proc/stat (empty elsewhere)."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return []


def pct(xs, q):
    """Linear-interpolated q-quantile (q in (0, 1))."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    f = int(k)
    return xs[f] + (xs[min(f + 1, len(xs) - 1)] - xs[f]) * (k - f)


def e2e(res: dict) -> tuple:
    """End-to-end metrics (generic names) plus their sample counts."""
    ops = [o for o in res["ops"] if o["ok"]]
    setup_s = statistics.median(res["setup_rep_ms"]) / 1e3 + res["warmup_ms"] / 1e3
    wl = res["workload"]
    c = res["check"]
    if wl == "sync_poll":
        lat = [o["ms"] / 1e3 for o in ops if not o["idle"]]
        thr = sum(o["batch_rows"] for o in ops) / sum(lat)
        space = c["dest_bytes"] / c["dest_rows"]
    else:
        lat = [o["ms"] / 1e3 for o in ops]
        thr = len(lat) / sum(lat)
        space = c["index_bytes"] / c["index_rows"]
    m = {"setup_s": setup_s, "rss_peak_mb": res["rss_peak_mb"],
         "latency_p50_s": statistics.median(lat), "latency_p90_s": pct(lat, 0.9),
         "throughput_per_s": thr, "stored_bytes_per_row": space}
    return m, {"latency_p50_s": len(lat), "latency_p90_s": len(lat),
               "setup_s": len(res["setup_rep_ms"])}


def run_once(args) -> int:
    import check
    build()
    cores = max(1, min(4, os.cpu_count() or 1))
    work = BENCH / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "inputs"
    t0 = time.perf_counter()
    meta = generate(args.workload, args.seed, inputs)
    gen_s = time.perf_counter() - t0
    cpu0 = cpu_times()
    try:
        res = run_jvm(args, cores, inputs, work)
        cpu1 = cpu_times()
        # steal (8th field): time the hypervisor gave this VM's CPUs to others
        steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)) \
            if len(cpu0) > 7 and len(cpu1) > 7 else float("nan")
        ops = res["ops"]
        failed_ops = [o for o in ops if not o["ok"]]
        if args.workload == "sync_poll":
            fails = check.check_sync_poll(res)
            bad = len(fails)
        else:
            per_entry = check.check_queries(res, inputs, work)
            fails = [f"{k}: {v}" for k, v in sorted(per_entry.items())]
            bad = sum(1 for o in ops if o["ok"] and o["name"] in per_entry)
        attempted = len(ops)
        failed = min(attempted, len(failed_ops) + bad)
        correct = not fails and not failed_ops
        for f in fails:
            log(f"perfbench: CHECK FAILED {f}")
        m, counts = e2e(res) if len(failed_ops) < attempted else ({}, {})
        declared = {d["name"]: d["unit"] for d in
                    SPEC["per_layer" if args.trace else "end_to_end"]}
        if args.trace:
            metrics = dict(res["layers"])
            metrics["trace.latency_p50_s"] = m.get("latency_p50_s", 0.0)
            metrics["trace.throughput_per_s"] = m.get("throughput_per_s", 0.0)
            for name in declared:      # layers a workload does not run read 0
                metrics.setdefault(name, 0.0)
            if args.ledger:
                Path(args.ledger).write_text(json.dumps(
                    {r["op"]: r for r in reversed(res["ledger"])}, indent=1))
        else:
            metrics = m
        undeclared = sorted(set(metrics) - set(declared))
        if undeclared or (m and set(declared) - set(metrics)):
            raise SystemExit(f"perfbench: metrics not matching BENCHMARK.json: "
                             f"{undeclared or sorted(set(declared) - set(metrics))}")
        summarize(args, res, m, counts, attempted, failed, cores, meta, gen_s, steal)
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": declared[k]}
                        for k, v in metrics.items()}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(args, res, m, counts, attempted, failed, cores, meta, gen_s,
              steal) -> None:
    names = E2E_NAMES[args.workload]
    print(f"# workload={args.workload} seed={args.seed} local[{cores}] "
          f"traced={args.trace} ops={attempted} failed={failed} "
          f"failed_share={failed / max(attempted, 1):.4f} "
          f"inputs={json.dumps(meta.get('tables', meta))} "
          f"cpu_steal={steal:.1%}")
    units = {d["name"]: d["unit"] for d in SPEC["end_to_end"]}
    for k, v in m.items():
        n = f" (n={counts[k]})" if k in counts else ""
        print(f"#   {names.get(k, args.workload + '.' + k)} = {v:.6g} "
              f"{units.get(k, '')}{n}")
    print(f"#   set-up parts: input generation {gen_s:.3f} s (not in setup_s), "
          f"session + seeding {', '.join(f'{x / 1e3:.3f}' for x in res['setup_rep_ms'])}"
          f" s, warm-up {res['warmup_ms'] / 1e3:.3f} s")
    ops = [o for o in res["ops"] if o["ok"]]
    if args.workload == "query_mix":        # the two layers' shares of the mix
        for layer in ("queries", "ext"):
            lat = [o["ms"] / 1e3 for o in ops if o["layer"] == layer]
            if lat:
                print(f"#   query_mix[{layer}].latency_s.p50 = "
                      f"{statistics.median(lat):.6g} s (n={len(lat)})")
        per = {}
        for o in ops:
            per.setdefault(o["name"], []).append(o["ms"])
        print("#   entry ms, median [min, max]: " + ", ".join(
            f"{k} {statistics.median(v):.0f} [{min(v):.0f}, {max(v):.0f}]" for k, v in
            sorted(per.items(), key=lambda kv: statistics.median(kv[1]))))
        n = len(per)
        print("#   pass s: " + ", ".join(
            f"{sum(o['ms'] for o in ops[i:i + n]) / 1e3:.2f}"
            for i in range(0, len(ops), n)))
    else:                                   # the set-up bulk load
        print("#   poll ms: " + ", ".join(
            f"{o['poll']}{'i' if o['idle'] else 'b'} {o['ms']:.0f}" for o in ops))
        c = res["check"]
        print(f"#   sync_poll.seed_rows_per_s = "
              f"{c['base_rows'] / (statistics.median(c['seed_sync_ms']) / 1e3):.6g}"
              f" 1/s (cold full sync of {c['base_rows']} rows, "
              f"n={len(c['seed_sync_ms'])})")
    if args.trace:
        for k, v in sorted(res["layers"].items()):
            print(f"#   {args.workload}.{k} = {v:.6g}")
        for k, v in sorted(res["self_ms"].items()):
            print(f"#   self_ms[{k}] = {v:.1f}")
        print(f"#   spans: {spans_file(args).relative_to(ROOT)}")


def run_all(args) -> int:
    """Every workload once untraced and once traced; prints each end-to-end
    metric under its per-workload name and the tracing overhead."""
    rc = 0
    for wl in WORKLOADS:
        lines = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, __file__, "--workload", wl, "--seed",
                 str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)], capture_output=True, text=True)
            rc = rc or p.returncode
            sys.stderr.write(p.stderr[-2000:] if p.returncode else "")
            out = p.stdout.strip().splitlines()
            print("\n".join(out[:-1]))
            lines[trace] = json.loads(out[-1]) if out else None
        u, t = lines[0], lines[1]
        if u and t:
            for k, src in (("latency_p50_s", "trace.latency_p50_s"),
                           ("throughput_per_s", "trace.throughput_per_s")):
                a, b = u["metrics"][k]["value"], t["metrics"][src]["value"]
                print(f"# {E2E_NAMES[wl][k]}: untraced {a:.6g}, traced {b:.6g}, "
                      f"traced - untraced {100 * (b - a) / a:+.1f}%")
        print(f"# {wl}: correct={u and u['correct']} failed_share="
              f"{(u['failed'] / u['attempted']) if u else 'n/a'}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--ledger", metavar="FILE",
                    help="with --trace 1: write per-operation engine counters")
    args = ap.parse_args()
    if SPEC is None or not (ROOT / "src" / "main" / "scala").is_dir():
        log("perfbench: run from the root of a full checkout "
            "(BENCHMARK.json and src/main/scala are required)")
        return 2
    sys.path.insert(0, str(BENCH))
    if args.all:
        build()
        return run_all(args)
    if not args.workload:
        ap.error("--workload is required without --all")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
