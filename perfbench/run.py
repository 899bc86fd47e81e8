#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mr_core --seed 1 --seconds 8 --trace 0

Builds graft and the harness (perfbench/build.py), clears the state that
graft's staged pipelines leave between runs, then runs the workload in one
fresh JVM (perfbench/src/Harness.scala) and checks every query's result
against perfbench/pins.json.

Prints one `metric <name> <value> <unit>` line per metric, then, as the
last line, one compact JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. Per-query detail and the spans go to perfbench/.out/.

`--write-pins` runs the workload and stores its fingerprints as the pins.
The fixtures come from $SPARK_GRAFT_SF_DIR, or else from the sf 0.1 row
of TESTDATA.md, the project's list of fixture locations.
"""
import argparse
import json
import os
import pathlib
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
REPO = BENCH.parent
WORK = BENCH / ".work"
OUT = BENCH / ".out"
PINS = BENCH / "pins.json"

HEAP = "4g"
YOUNG = "1g"
# every run must end well inside the 180 s the benchmark is allowed
DEADLINE_S = 170
# the q75 pipeline stages its corpus table here whatever java.io.tmpdir is,
# and under RSSkip a later JVM would reuse it
Q75_ROOT = pathlib.Path("/tmp/graft_q75")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def fixtures():
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        d = env
    else:
        doc = REPO / "TESTDATA.md"
        m = doc.is_file() and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
        if not m:
            fail("no fixtures: set SPARK_GRAFT_SF_DIR or add the sf 0.1 row to TESTDATA.md")
        d = m.group(1)
    d = d.rstrip("/")
    if not pathlib.Path(d, "lineitem.parquet").exists():
        fail(f"fixtures missing under {d}")
    return d


def q75_dir(data):
    return Q75_ROOT / re.sub(r"[^A-Za-z0-9.]", "_", data)


def clear_state(data):
    """Remove what an earlier run of graft could leave behind, so that
    every run starts from the same state."""
    shutil.rmtree(WORK, ignore_errors=True)
    shutil.rmtree(q75_dir(data), ignore_errors=True)
    try:
        Q75_ROOT.rmdir()
    except OSError:
        pass


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def jvm(classes, args, log, timeout):
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    # a fixed heap and young generation: the resident size then follows the
    # old generation, not when G1 decided to grow the heap or eden
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
        f"-Dspark.local.dir={WORK / 'spark'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.environ['SPARK_HOME']}/jars/*",
        "perfbench.Harness",
    ] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in WORK
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, timeout))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return rc


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def compare(pins, got):
    """Queries whose fingerprint is missing, failed or differs from its pin."""
    return sorted(q for q, fp in got.items() if "error" in fp or pins.get(q) != fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()
    # a killed run still stops its JVM: SystemExit reaches jvm()'s handler
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    workloads = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {', '.join(workloads)}")
    queries = workloads[a.workload]
    data = fixtures()
    sys.path.insert(0, str(BENCH))
    sys.dont_write_bytecode = True
    import build
    classes = build.build()
    start = time.monotonic()  # the build is not part of the 180 s of a run

    clear_state(data)
    OUT.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = OUT / f"{tag}.log"
    log.unlink(missing_ok=True)
    n = cores()
    try:
        res = WORK / "run.json"
        left = DEADLINE_S - (time.monotonic() - start)
        steal0, total0 = cpu_ticks()
        rc = jvm(classes, ["--data", data, "--cores", str(n),
                           "--workload", a.workload, "--queries", ",".join(queries),
                           "--seed", str(a.seed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--out", str(res)], log, left)
        if rc != 0:
            fail(f"workload JVM exited {rc}; see {log}")
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while this run's JVM ran
        steal = (steal1 - steal0) / max(1, total1 - total0)
        r = json.loads(res.read_text())
        r["layers"]["box.steal_frac"] = steal
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {DEADLINE_S} s; see {log}")
    finally:
        clear_state(data)

    pins = json.loads(PINS.read_text()) if PINS.exists() else {}
    if a.write_pins:
        bad = [q for q, fp in r["pins"].items() if "error" in fp]
        if bad:
            fail(f"not pinning failed queries: {bad}")
        pins.update(r["pins"])
        PINS.write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    mismatched = compare(pins, r["pins"])
    # the check must be able to fail: one altered pin has to be reported
    probe = sorted(r["pins"])[0]
    altered = dict(pins, **{probe: dict(pins.get(probe, {}), hash="altered")})
    self_check = probe in compare(altered, r["pins"])

    n_queries = len(queries)
    attempted = n_queries + len(r["runs"])
    failed = len(mismatched) + r["cold_failed"] + r["warm_failed"]
    correct = failed == 0 and self_check

    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "mismatched": mismatched,
              "pin_self_check": self_check, "wall_s": time.monotonic() - start,
              "jvm": {k: v for k, v in r.items() if k != "spans"}}
    (OUT / f"{tag}.json").write_text(json.dumps(detail))
    if a.trace:
        (OUT / f"{tag}.spans.json").write_text(json.dumps(
            [dict(s, run=tag) for s in r["spans"]]))

    print(f"box nproc={len(os.sched_getaffinity(0))} cores={n} heap={HEAP} "
          f"load_avg={r['load_avg']:.2f} steal_frac={steal:.3f} workload={a.workload} seed={a.seed} "
          f"queries={n_queries} warm_passes={len(r['warm_passes_s'])}")
    print(f"pins checked={n_queries} mismatched={mismatched} self_check={self_check}")
    if a.trace:
        declared = spec["per_layer"]
        values = r["layers"]
    else:
        declared = spec["end_to_end"]
        warm = r["warm_query_ms"]
        values = {
            "setup_s": r["setup_s"],
            "cold_pass_s": r["cold_pass_s"],
            # the median pass, built as in graft.Bench: each query's median
            # over the warm passes, summed
            "warm_pass_s": sum(statistics.median(v) for v in warm.values()) / 1000,
            "slowest_query_s": max(statistics.median(v) for v in warm.values()) / 1000,
            "ok_frac": 1 - failed / attempted,
            "peak_rss_mb": r["vm_hwm_mb"],
        }
        print(f"metric failed_frac {failed / attempted} frac (base: {attempted} runs)")
    units = {m["name"]: m["unit"] for m in declared}
    for k, v in sorted(values.items()):
        print(f"metric {k} {v} {units.get(k) or ('s' if k.endswith('_s') else 'count')}")
    # the last line stays well under 2 KB: only the declared metrics, and
    # per-layer values (no bound, many of them) to 6 significant digits
    metrics = {k: {"value": values[k] if not a.trace else float(f"{values[k]:.6g}"),
                   "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
