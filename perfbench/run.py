#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (``perfbench/build.sbt``); later runs reuse
the build while the sources are unchanged. Each run generates the
workload's inputs from the seed (``perfbench/gen.py``), starts one JVM that
runs the workload in a ``local[nproc]`` Spark session, and passes on its
report. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Apart from sbt's
``target/`` directories, everything a run writes stays under
``.perfbench/`` in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import gen  # noqa: E402

# All workloads read inputs of one scale (a directory of perfbench/data).
WORKLOADS = ["kg_journey", "eval_serving", "curation"]
PROFILE = "sf0.001"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    files = []
    for base in (root, HERE):
        files += [os.path.join(base, "build.sbt"),
                  os.path.join(base, "project", "build.properties")]
        for ext in ("scala", "java"):
            files += glob.glob(os.path.join(base, "src", "main", "**", "*." + ext),
                               recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(root, work, build):
    """Build with sbt once per source tree; returns the runtime classpath."""
    stamp = os.path.join(work, "build", build + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(work, "build", "sbt.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=" ".join(filter(None, [
        os.environ.get("SBT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])))
    with open(log, "w") as out:
        try:
            # Own process group: the sbt launcher script starts a JVM that
            # must end with it on a timeout.
            p = subprocess.Popen(["sbt", "-batch", "export Runtime/fullClasspath"],
                                 cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env,
                                 start_new_session=True)
        except OSError as e:
            die(f"build failed ({e}); see {log}")
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"build exceeded {BUILD_TIMEOUT_S} s; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        die(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def heap():
    """Driver heap sized like the tier-1 test run: half of RAM, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("storage_mb", "MB")]
# Layers of all workloads, reported by every traced run (0 where a
# workload never calls the layer).
LAYERS = ["sources.ntriples", "rdf.dict", "tensor.partition", "kge.train",
          "kge.eval", "kge.eval.cold", "kge.eval.warm", "ann.cold", "ann.warm",
          "pipeline.clean", "dedup.canonical", "pipeline.gate",
          "pipeline.decontaminate", "pipeline.e2e"]
MEASURES = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
            ("tasks", "count"), ("cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_mb", "MB"), ("spill_mb", "MB")]
EXTRA = [("core.cache.clear_s", "s"), ("core.cache.persisted_rdds", "count"),
         ("core.cache.storage_mb", "MB"), ("core.cache.reuse_ratio", "1"),
         ("serve.refresh_s", "s"), ("serve.warm_p50_s", "s"),
         ("serve.warm_p90_s", "s"), ("kge.train.mrr", "1"), ("ann.recall", "1"),
         ("trace.uncovered_s", "s")]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in MEASURES] + EXTRA


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_times():
    """The host's CPU time counters (/proc/stat), or None where there are none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other machines (steal)."""
    if not before or not after or len(before) < 8:
        return None
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else None


def jvm(a, cp, inputs, work, traced):
    """One JVM: set-up, one timed body, checks. Returns its result."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--input", inputs, "--seed", str(a.seed),
        "--trace", str(int(traced)), "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    log = os.path.join(work, "logs", f"{a.workload}-seed{a.seed}-trace{int(traced)}.log")
    before = cpu_times()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{a.workload} exceeded {RUN_TIMEOUT_S} s; see {log}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        die(f"{a.workload} printed no result (exit {p.returncode}); see {log}")
    result["steal"] = steal_share(before, cpu_times())
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    work = os.path.join(root, ".perfbench")
    build = source_hash(root)
    cp = classpath(root, work, build)
    inputs = gen.ensure(os.path.join(work, "inputs"), PROFILE, a.seed)

    # Untraced: JVMs for about --seconds, at least one. Traced: one traced
    # JVM, whose tracing overhead is measured against the untraced JVMs this
    # checkout has run for the workload. A second JVM in a traced run could
    # not be relied on to end within a run's time limit.
    walls_file = os.path.join(work, "results", f"{a.workload}-{build}.walls.json")
    walls = []
    if os.path.exists(walls_file):
        with open(walls_file) as f:
            walls = json.load(f)
    plain, traced = [], []
    if a.trace:
        traced.append(jvm(a, cp, inputs, work, True))
    else:
        t0 = time.monotonic()
        while True:
            start = time.monotonic()
            plain.append(jvm(a, cp, inputs, work, False))
            walls.append(plain[-1]["wall_s"])
            now = time.monotonic()
            if (now - t0) + (now - start) > a.seconds:
                break
        os.makedirs(os.path.dirname(walls_file), exist_ok=True)
        with open(walls_file, "w") as f:
            json.dump(walls, f)
    runs = plain + traced

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    failures = [f for r in runs for f in r["failures"]]
    # The output digest must repeat across JVMs and across runs of one
    # seed in this checkout.
    digests = {r["digest"] for r in runs}
    known = os.path.join(work, "digests", f"{a.workload}-seed{a.seed}-{build}")
    if os.path.exists(known):
        with open(known) as f:
            digests.add(f.read().strip())
    elif len(digests) == 1:
        os.makedirs(os.path.dirname(known), exist_ok=True)
        with open(known, "w") as f:
            f.write(next(iter(digests)))
    attempted += 1
    if len(digests) != 1:
        failed += 1
        failures.append("output digest differs across repetitions of the seed")

    e2e = {k: median([r[k] for r in runs]) for k, _ in END_TO_END}
    print(f"perfbench {a.workload} seed={a.seed} cores={os.cpu_count()} "
          f"jvms={len(runs)} (traced {len(traced)}); gated metrics are medians over "
          f"them, the other figures come from the last")
    for k, u in END_TO_END:
        print(f"  {k:<26} {e2e[k]:14.4f} {u}")
    steal = [r["steal"] for r in runs if r["steal"] is not None]
    if steal:
        # A shared host lends its CPUs to other machines in bursts; times
        # measured during one are slow.
        print("  host steal during the JVM: " + " ".join(f"{x:.1%}" for x in steal)
              + " of CPU time")
    for k, v in sorted(runs[-1]["report"].items()):
        print(f"  {k:<26} {v['value']:14.4f} {v['unit']}")
    print(f"  {'error_rate':<26} {failed / attempted:14.4f} 1  "
          f"({failed} failed of {attempted} calls and checks)")
    for f in failures:
        print(f"  FAILED: {f}")

    if a.trace:
        layers = dict(traced[-1]["layers"])
        layers["trace.uncovered_s"] = traced[-1]["wall_s"] - traced[-1]["calls_s"]
        print("  per layer (traced JVM; cpu_util = cpu_s / (wall_s x cores)):")
        print(f"  {'layer':<24} {'wall_s':>9} {'driver_s':>9} {'jobs':>6} {'tasks':>6} "
              f"{'cpu_s':>8} {'gc_s':>7} {'shuf_mb':>8} {'spill_mb':>8} {'cpu_util':>8}")
        for l in sorted({k.rsplit(".", 1)[0] for k in layers if k.endswith(".driver_s")}):
            v = {m: layers.get(f"{l}.{m}", 0.0) for m, _ in MEASURES}
            if v["wall_s"] > 0:
                util = v["cpu_s"] / (v["wall_s"] * os.cpu_count())
                print(f"  {l:<24} {v['wall_s']:9.3f} {v['driver_s']:9.3f} {v['jobs']:6.0f} "
                      f"{v['tasks']:6.0f} {v['cpu_s']:8.3f} {v['gc_s']:7.3f} "
                      f"{v['shuffle_mb']:8.2f} {v['spill_mb']:8.2f} {util:8.3f}")
        for k, u in EXTRA:
            if k in layers:
                print(f"  {k:<26} {layers[k]:14.4f} {u}")
        if walls:
            print(f"  {'tracing overhead':<26} {traced[-1]['wall_s'] - median(walls):14.4f} s"
                  f"  (traced body wall minus the median of {len(walls)} untraced)")
        else:
            print("  tracing overhead: not measured, no untraced run of this build yet")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
