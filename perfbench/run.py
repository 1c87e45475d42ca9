"""The repository's benchmark: one command for the ingest jobs and the
query contract.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client: the next op starts when the previous
one returns):

  contract        a fixed list of contract queries through SparkEntry.queries
                  over seeded tables (perfbench/tables.py); results are
                  checked against the DuckDB oracle SQL
  ingest_monthly  graft.app.Jobs.delta after ~1% new rows per product type,
                  fetching from the benchmark's document server

The program is built from source first (perfbench/build.py). Everything the
run writes stays under the build directory of the checkout. With --trace 0
the last line of stdout holds the end-to-end metrics, with --trace 1 the
per-layer ones; a table of the same figures goes to stderr, and a traced
run leaves its spans in <build dir>/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("contract", "ingest_monthly")
JVM_TIMEOUT_S = 172  # leaves 8 s of the 180 s run limit for the checks after the JVM
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(classpath, work, args, timeout):
    """Run graftbench.Main in its own process group; kill the group on
    timeout so no process outlives the run."""
    cmd = [build.java(), "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs: a run on a host whose
    hypervisor steals CPU time reads slow for reasons outside the program."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def parse():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    return ap.parse_args()


def main():
    a = parse()
    classpath = build.build()
    t_start = time.time()  # a first run may also build; the budget starts after
    out = build.build_dir()
    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = ""
    if a.workload == "contract":
        import tables as gen
        tables = os.path.join(work, "tables")
        os.makedirs(tables)
        for name, t in gen.tables(a.seed).items():
            gen.pq.write_table(t, os.path.join(tables, f"{name}.parquet"))
    result_file = os.path.join(work, "result.json")
    budget = max(30, JVM_TIMEOUT_S - (time.time() - t_start))
    steal0, total0 = cpu_ticks()
    rc = jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace,
                               "--work", work, "--tables", tables, "--out", result_file,
                               "--cpus", str(cpus())], budget)
    steal1, total1 = cpu_ticks()
    if rc != 0 or not os.path.exists(result_file):
        raise SystemExit(f"benchmark JVM failed with exit code {rc}")
    r = json.load(open(result_file))
    attempted, failed = r["attempted"], r["failed"]
    notes = list(r["notes"])
    correct = failed == 0
    if a.workload == "contract":
        import check
        bad = check.contract(tables, os.path.join(work, "check"))
        for q, why in bad.items():
            notes.append(f"{q}: {why}")
            # every op of a wrong query fails; those that threw already count
            ops, threw = r["query_ops"].get(q, (0, 0))
            failed += ops - threw
        correct = correct and not bad
        if "ok_ratio" in r["metrics"]:
            r["metrics"]["ok_ratio"]["value"] = 1.0 - failed / attempted
    metrics = r["metrics"]
    for n in notes:
        print(f"[perfbench] {n}", file=sys.stderr)
    width = max(len(k) for k in metrics)
    for k, v in metrics.items():
        print(f"[perfbench] {a.workload:15s} {k:{width}s} {v['value']:>16.6f} {v['unit']}",
              file=sys.stderr)
    print(f"[perfbench] {a.workload}: {attempted} ops, {failed} failed "
          f"(fail_ratio {failed / attempted:.4f}); host CPU steal during the run "
          f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%", file=sys.stderr)
    if a.trace == "1":
        os.makedirs(os.path.join(out, "out"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(out, "out", f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
