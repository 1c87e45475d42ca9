"""Self-tests of the benchmark.

    python3 perfbench/selftest.py          # corpus, tables, server
    python3 perfbench/selftest.py --runs   # also short runs of every workload

  - the same seed gives a byte-identical page corpus and identical tables,
    another seed does not;
  - the document server's injected-failure counts are exact;
  - with --runs: each workload in BENCHMARK.json prints exactly the metric
    names and units BENCHMARK.json lists (end-to-end untraced, per-layer
    traced), its outputs check correct, and fetch.calls is zero where
    nothing is fetched. Every per-layer metric has its targets in
    perfbench/layers.json.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

FAILED = []


def expect(name, cond, detail=""):
    print(("ok   " if cond else "FAIL ") + name + ("" if cond else f": {detail}"))
    if not cond:
        FAILED.append(name)


def check_tables():
    a, b, c = tables.tables(5), tables.tables(5), tables.tables(6)
    expect("tables: same seed gives identical tables", all(a[k].equals(b[k]) for k in a))
    expect("tables: another seed gives other tables", not all(a[k].equals(c[k]) for k in a))


def check_jvm(classpath, work):
    rc = run.jvm(classpath, work, ["--workload", "selftest", "--seed", "7", "--seconds", "0",
                                   "--trace", "0", "--work", work, "--tables", "",
                                   "--out", os.path.join(work, "out.json"),
                                   "--cpus", str(run.cpus())], 120)
    expect("jvm self-tests (corpus determinism, server fault counts)", rc == 0, f"exit {rc}")


def check_runs(bench):
    layers = json.load(open(os.path.join(HERE, "layers.json")))
    expect("layers.json covers every per-layer metric",
           sorted(layers) == sorted(m["name"] for m in bench["per_layer"]),
           set(layers) ^ {m["name"] for m in bench["per_layer"]})
    for w in bench["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                                "--seed", "3", "--seconds", "1", "--trace", trace],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                expect(f"{tag}: exits 0", False, f"exit {p.returncode}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(f"{tag}: names every {key} metric with its unit", got == want,
                   set(got.items()) ^ set(want.items()))
            expect(f"{tag}: outputs correct", r["correct"] and r["failed"] == 0, r)
            if trace == "1":
                calls = r["metrics"].get("fetch.calls", {}).get("value")
                expect(f"{tag}: fetch.calls {'> 0' if w['name'] == 'ingest_monthly' else '== 0'}",
                       (calls > 0) if w["name"] == "ingest_monthly" else calls == 0, calls)


def main():
    check_tables()
    classpath = build.build()
    work = os.path.join(build.build_dir(), "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    check_jvm(classpath, work)
    shutil.rmtree(work, ignore_errors=True)
    if "--runs" in sys.argv:
        check_runs(json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))))
    print(f"{len(FAILED)} failed" if FAILED else "all passed")
    sys.exit(1 if FAILED else 0)


if __name__ == "__main__":
    main()
