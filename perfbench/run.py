"""Benchmark runner: ``query_short``, ``query_heavy`` and ``ingest_sweep``.

    python3 perfbench/run.py --workload query_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
(``perfbench/build.py``), generates the seeded inputs, starts one JVM with a
``local[N]`` Spark session sized to the box, and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and the
metrics that ``BENCHMARK.json`` lists, the end-to-end ones with ``--trace 0``
and the per-layer ones with ``--trace 1``.  A traced run also writes its spans
and per-layer self-time table to ``.bench_build/traces/``.

Everything it writes goes under ``.bench_build/`` in the checkout; the
per-run work directory is removed on exit.  The query workloads read the
sf0.1 fixtures from ``$PERFBENCH_SF_DIR`` (default: the repo's standard
fixture location, see TESTDATA.md).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import exportgen  # noqa: E402

HERE = Path(__file__).resolve().parent
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
EXPECTED = HERE / "expected_sf0.1.json"
WORKLOADS = ("query_short", "query_heavy", "ingest_sweep")
# A run must end within 180 s (a build, on the first run in a checkout, is
# allowed on top of that).
JVM_TIMEOUT_S = 170
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, clamped to 2..8 GiB, as the tier-1 test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def metric_specs():
    with open(build.ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def jvm(cmd, env, log_path, timeout):
    """Run the JVM to completion; it is killed with this process or on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def self_time_table(detail):
    rows = ["%-34s %7s %10s %10s" % ("span", "calls", "incl_s", "self_s")]
    for r in detail.get("self_times", []):
        rows.append("%-34s %7d %10.3f %10.3f" % (r["name"], r["calls"], r["inclS"], r["selfS"]))
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    end_to_end, per_layer = metric_specs()
    classes = build.build()
    if not Path(SF_DIR).is_dir() and args.workload != "ingest_sweep":
        raise SystemExit("perfbench: fixtures %s not found (set PERFBENCH_SF_DIR)" % SF_DIR)

    work = build.BUILD_DIR / ("run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        out = work / "result.json"
        bench_args = ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--cores", str(cores()), "--sf-dir", SF_DIR, "--work-dir", str(work),
                      "--expected", str(EXPECTED), "--out", str(out)]
        if args.workload == "ingest_sweep":
            # The warm-up tree: one tenant, one export job per report type.
            for name, seed, shape in (("export", args.seed, {}),
                                      ("warmup", args.seed + 7919,
                                       {"events": 2_000, "n_tenants": 1, "jobs": 1})):
                manifest = exportgen.generate(str(work / name), seed, **shape)
                with open(work / (name + ".json"), "w") as f:
                    json.dump(manifest, f)
            bench_args += ["--manifest", str(work / "export.json"),
                           "--warmup-manifest", str(work / "warmup.json")]

        cp = "%s%s%s" % (classes, os.pathsep, build.spark_jars() / "*")
        cmd = (["java", "-Xmx" + heap(), "-Xss8m", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=%s" % (work / "tmp"), "-Dderby.system.home=%s" % work,
                "-Dspark.sql.warehouse.dir=%s" % (work / "spark-warehouse"),
                "-Dspark.local.dir=%s" % (work / "spark-local")]
               + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS]
               + ["-cp", cp, "perfbench.Main"] + bench_args)
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
                   SPARK_GRAFT_FIXTURE_DIR=str(work / "fixtures"))
        code = jvm(cmd, env, work / "jvm.log", JVM_TIMEOUT_S)
        if code != 0 or not out.exists():
            tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            raise SystemExit("perfbench: JVM %s" % ("timed out" if code is None else "exit %s" % code))
        with open(out) as f:
            res = json.load(f)
        for p in res["problems"]:
            print("perfbench: check: %s" % p, file=sys.stderr)
        specs = per_layer if args.trace else end_to_end
        missing = [m["name"] for m in specs if m["name"] not in res["metrics"]]
        if missing:
            raise SystemExit("perfbench: run did not report %s" % ", ".join(missing))
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in specs}
        if args.trace:
            traces = build.BUILD_DIR / "traces"
            traces.mkdir(exist_ok=True)
            path = traces / ("%s-seed%d.json" % (args.workload, args.seed))
            detail = res["detail"]
            with open(path, "w") as f:
                json.dump(dict(detail, run_id="%s-seed%d" % (args.workload, args.seed),
                               per_layer=res["metrics"]), f)
            print(self_time_table(detail), file=sys.stderr)
            print("perfbench: trace written to %s" % path, file=sys.stderr)
        print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
