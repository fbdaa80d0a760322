"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Builds the program from source when stale (perfbench/build.py), then runs
the workload in one JVM on a Spark session sized to this machine:
local[nproc], heap from MemTotal. Prints every metric by name and unit,
then, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics of
BENCHMARK.json, `--trace 1` its per-layer metrics. Each result is also
stored, stamped with the machine facts, under .bench_work/results/ for
perfbench/compare.py. Exits non-zero when an output check fails or the
run cannot complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORK = ROOT / ".bench_work"
RUN_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# End-to-end figures printed beside the gated BENCHMARK.json metrics, per
# workload: (name, source metric, unit). Throughput is ExtractMain's own
# figure on bulk_build, where a fixed input makes it the inverse of
# op_p50_ms, and result rows per second on graph_query, where it follows
# the answer sizes; the p90 tail moves by more than any allowed bound at
# 20-70 operations a run.
PRINTED = {
    "bulk_build": [("statements_per_s", "statements_per_s", "stmt/s"), ("op_tail_ms", "op_tail_ms", "ms")],
    "graph_query": [("rows_per_s", "statements_per_s", "rows/s"), ("query_p50_ms", "op_p50_ms", "ms"),
                    ("query_tail_ms", "op_tail_ms", "ms")],
}


def machine():
    """Facts two results must share before they may be compared."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb}


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat: time the hypervisor gave
    to other guests shows as steal, the noise floor of a shared machine."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def heap_mb(mem_kb):
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    return max(1024, min(4096, mem_kb // 4 // 1024))


def jvm(classpath, run_dir, main_class, *args):
    """The java command for one benchmark JVM: a fixed heap sized from
    MemTotal with a fixed quarter of it young (so peak memory follows the
    data the program keeps, not the collector's resizing), the module
    openings Spark needs on JDK 17, temp files inside `run_dir`."""
    heap = heap_mb(machine()["mem_total_kb"])
    return ["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m", "-Xss8m", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", *ADD_OPENS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, main_class, *args]


def commit():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-sha256:" + build.source_digest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        sys.exit(f"unknown workload {args.workload!r}; BENCHMARK.json lists {names}")
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"cannot build the program: {e}")

    facts = machine()
    cores = facts["nproc"]
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = jvm(classpath, run_dir, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores), "--work", str(run_dir))
    t0 = time.time()
    steal0, total0 = cpu_ticks()
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S, cwd=run_dir)
    except subprocess.TimeoutExpired:
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    result_file = run_dir / "result.json"
    if proc.returncode != 0 or not result_file.is_file():
        sys.stderr.write(proc.stderr[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM exited with {proc.returncode}")
    res = json.loads(result_file.read_text())
    spans = run_dir / "spans.json"
    steal1, total1 = cpu_ticks()
    res["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)

    res["machine"] = {**facts, "jdk": res["java_version"], "spark": res["spark_version"]}
    res["seed"] = args.seed
    res["commit"] = commit()
    res["wall_s"] = time.time() - t0
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    if spans.is_file():
        shutil.copy(spans, results / f"{stem}.spans.json")
    (results / f"{stem}.json").write_text(json.dumps(res, indent=1) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    metrics = res["metrics"]
    missing = [n for n in wanted if metrics.get(n) is None]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={facts['nproc']} "
          f"mem_total_kb={facts['mem_total_kb']} jdk={res['java_version']} spark={res['spark_version']} "
          f"commit={res['commit']}")
    print(f"# ops={res['measured_ops']} tail=p{res['tail_level'] * 100:g} steal_share={res['steal_share']:.3f} "
          f"setup_passes_s={res['setup_passes_s']} kinds={json.dumps(res['op_kinds'])}")
    for n in wanted:
        print(f"{n} = {metrics.get(n)} {units[n]}")
    if not args.trace:
        for name, src, unit in PRINTED.get(args.workload, []):
            if metrics.get(src) is not None:
                print(f"{name} = {metrics[src]} {unit} (n={res['measured_ops']})")
    print(f"error_rate = {res['failed'] / max(res['attempted'], 1)} ratio "
          f"({res['failed']} of {res['attempted']})")
    for c in res["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} — {c['detail']}")
    for f in res["failures"]:
        print(f"failure: {f}")
    correct = res["failed"] == 0 and not missing
    if missing:
        print(f"missing metrics: {missing}")
    out = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in wanted if n not in missing}}
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
