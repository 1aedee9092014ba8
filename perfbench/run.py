"""The nightly ETL benchmark: one command per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the project (``src/main/scala``)
and the benchmark program (``perfbench/src``) with the Scala compiler shipped in the
Spark jars, once per source tree, into ``.bench_build/perfbench``; generates
the seeded inputs; runs ``graft.core.Pipeline.run`` night after night in one
JVM; checks the warehouse against an independent DuckDB fold; and prints one
JSON object as its last line. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. Nothing is timed before the inputs exist
and the classes are compiled. See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DATA = os.environ.get("GRAFT_BENCH_DATA", "/root/testdata/sf0.1")
BUILD = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# Each workload: its inputs (a gen.INPUTS entry), adapter and mode, the
# incremental nights run untimed after the first sight, the nights timed,
# and the nominal seconds of one timed night. A run times
# max(timed, ceil(seconds / night_s)) nights: a fixed count for a given
# --seconds, whatever the program's speed. `many_folders` runs by hand only:
# BENCHMARK.json leaves it out so that a full round of runs fits its time
# limit (perfbench/README.md, "Left out, and why").
WORKLOADS = {
    "overwrite_large": dict(inputs="large", adapter="parquet", mode="overwrite",
                            warmup=1, timed=7, night_s=2.2),
    "merge_large": dict(inputs="large", adapter="manifest", mode="merge",
                        warmup=1, timed=3, night_s=6.2),
    "many_folders": dict(inputs="many_folders", adapter="manifest", mode="overwrite",
                         warmup=0, timed=2, night_s=5.5),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))


def scalac(out, files, classpath):
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath",
                           ":".join(classpath)] + files))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compiling {len(files)} files into {out} failed:\n{r.stdout[-4000:]}")


def build():
    """Compiles the project and the benchmark program once per source tree; returns the
    classpath."""
    main_src = sources(os.path.join("src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not main_src or not bench_src:
        fail("run from the repository root: src/main/scala or perfbench/src is missing")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            main, bench = os.path.join(out, "main"), os.path.join(out, "bench")
            scalac(main, main_src, jars())
            scalac(bench, bench_src, [main] + jars())
            open(os.path.join(out, "ok"), "w").close()
    return [os.path.abspath(os.path.join(out, "bench")),
            os.path.abspath(os.path.join(out, "main")),
            os.path.join(SPARK_JARS, "*")]


def run_jvm(classpath, work, wl, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + opens + ["-cp", ":".join(classpath), "graftbench.NightlyBench",
                      "--work", work, "--adapter", wl["adapter"], "--mode", wl["mode"],
                      "--trace", str(args.trace), "--warmup", str(wl["warmup"])])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        # few malloc arenas, so native memory, and with it peak RSS, repeats
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def med(values):
    return statistics.median(values) if values else 0.0


def net(x, key, steal="steal"):
    """A wall time less the share of it the hypervisor stole from the VM's
    busy CPUs: the time the program had the CPUs it ran on."""
    return x[key] * (1 - x[steal])


def end_to_end(res, timed):
    return {
        "setup_s": (net(res, "setup_s", "setup_steal"), "s"),
        "initial_load_s": (med([net(x, "wall_s")
                                for x in res["first_sights"] + res["nights"][:1]]), "s"),
        "nightly_s": (med([net(x, "wall_s") for x in timed]), "s"),
        "nightly_cpu_s": (med([x["cpu_s"] for x in timed]), "s"),
        "read_s": (med([net(x, "read_s", "read_steal") for x in timed]), "s"),
        "write_mb_per_night": (med([x["write_bytes"] for x in timed]) / 1e6, "MB"),
        "warehouse_mb": (res["warehouse_bytes"] / 1e6, "MB"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


SPAN_FIELDS = [("wall_s", "s", 1), ("jobs", "count", 1), ("task_s", "s", 1),
               ("input_bytes", "MB", 1e-6), ("shuffle_bytes", "MB", 1e-6),
               ("output_bytes", "MB", 1e-6), ("output_rows", "count", 1),
               ("fs_meta_ops", "count", 1)]
SPAN_SUFFIX = {"input_bytes": "input_mb", "shuffle_bytes": "shuffle_mb",
               "output_bytes": "output_mb"}
WHOLE, COUNT, READ = "core.Pipeline.run", "io.WarehouseAdapter.count", "io.WarehouseAdapter.read"

# span -> the fields reported for it (the ones that can be non-zero)
SPANS = {
    WHOLE: ["wall_s", "jobs", "task_s", "fs_meta_ops"],
    "core.Pipeline.recover": ["wall_s", "fs_meta_ops"],
    "core.Watermark.load": ["wall_s", "jobs", "task_s", "fs_meta_ops"],
    "core.Watermark.list": ["wall_s", "fs_meta_ops"],
    "core.Watermark.save": ["wall_s", "jobs", "task_s", "output_bytes", "fs_meta_ops"],
    "io.Tables.read_csv": ["wall_s", "jobs", "task_s", "input_bytes", "fs_meta_ops"],
    "core.Merge.plan": ["wall_s", "fs_meta_ops"],
    "io.WarehouseAdapter.load": ["wall_s", "jobs", "task_s", "input_bytes", "shuffle_bytes",
                                 "output_bytes", "output_rows", "fs_meta_ops"],
    COUNT: ["wall_s", "jobs", "task_s", "input_bytes", "fs_meta_ops"],
    READ: ["wall_s", "jobs", "task_s", "input_bytes", "fs_meta_ops"],
}


def per_layer(plan, timed):
    """Median over timed nights of each span's per-night total, plus the
    ratios of useful work to work done. A layer call's wall time comes from
    the replayed nights, everything else about the nightly from the whole
    `Pipeline.run` nights; the consumer reads run on every night."""
    replay = [x for x in timed if x["kind"] == "replay"]
    whole = [x for x in timed if x["kind"] == "run"]

    def sp(x, name, field):
        return x["spans"].get(name, {}).get(field, 0.0) + \
            x["read_spans"].get(name, {}).get(field, 0.0)

    def ratio(nights, num, den):
        return med([num(x) / den(x) for x in nights if den(x)])

    out = {}
    for name, fields in SPANS.items():
        for field, unit, scale in SPAN_FIELDS:
            if field in fields:
                nights = (timed if name == READ else
                          replay if field == "wall_s" and name != WHOLE else whole)
                out[f"{name}.{SPAN_SUFFIX.get(field, field)}"] = (
                    med([sp(x, name, field) for x in nights]) * scale, unit)

    def night(x, key):
        return plan[key][str(x["night"])]

    def fresh_bytes(x):
        return sum(f[2] for files in night(x, "files").values() for f in files)

    def stored_batch_bytes(x):
        """The batch's rows at each table's stored bytes per row."""
        rows = night(x, "batch_rows")
        return sum(b * rows[f] / x["loads"][f]
                   for f, b in x["table_bytes"].items() if x["loads"][f] > 0)

    out["io.Tables.read_csv.passes"] = (ratio(
        whole, lambda x: sp(x, WHOLE, "source_csv_bytes"), fresh_bytes), "ratio")
    out["core.Watermark.list.calls_per_folder"] = (ratio(
        whole, lambda x: sp(x, WHOLE, "source_folder_lists"),
        lambda x: len(plan["folders"])), "ratio")
    out["io.WarehouseAdapter.count.table_read_ratio"] = (ratio(
        whole, lambda x: sp(x, COUNT, "input_bytes"),
        lambda x: sum(x["table_bytes"].values())), "ratio")
    out["io.WarehouseAdapter.load.write_amplification"] = (ratio(
        whole, lambda x: x["write_bytes"], stored_batch_bytes), "ratio")
    out["io.WarehouseAdapter.load.partitions_rewritten"] = (
        med([x["dirs_rewritten"] for x in whole]), "count")
    out["io.WarehouseAdapter.read.files_per_lookup"] = (ratio(
        timed, lambda x: sp(x, READ, "lookup_parquet_opens"),
        lambda x: sp(x, READ, "lookups")), "ratio")
    out["trace.replay_night_s"] = (med([x["wall_s"] for x in replay]), "s")
    return out


def main():
    # a terminated run unwinds, so the JVM is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    if not os.path.isdir(DATA):
        fail(f"input tables not found at {DATA}")
    classpath = build()
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        nights = wl["warmup"] + max(wl["timed"], math.ceil(args.seconds / wl["night_s"]))
        plan = gen.generate(DATA, work, wl["inputs"], args.seed, nights)
        t1 = time.time()
        res = run_jvm(classpath, work, wl, args)
        t2 = time.time()
        try:
            verdict = check.check(work, plan, res)
        except Exception as e:  # a checker that cannot finish has not shown correctness
            verdict = {"problems": [f"the checker raised {e!r}"]}
        print(f"perfbench: generate {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
              f"check {time.time() - t2:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for problem in verdict["problems"]:
        print("perfbench: check failed: " + problem, file=sys.stderr)
    nights = res["nights"]
    timed = [x for x in nights if x["timed"]]
    attempted = sum(len(x["loads"]) + len(x["reads"]) for x in nights)
    failed = sum(sum(1 for v in x["loads"].values() if v < 0)
                 + sum(1 for r in x["reads"] if not r["ok"]) for x in nights)
    metrics = per_layer(plan, timed) if args.trace else end_to_end(res, timed)
    print(f"perfbench: {args.workload} seed={args.seed} nights={len(nights)} "
          f"timed={len(timed)} night wall s: "
          + " ".join(f"{x['wall_s']:.2f}" for x in nights)
          + "; read s: " + " ".join(f"{x['read_s']:.2f}" for x in nights[1:])
          + "; steal: " + " ".join(f"{x['steal']:.2f}" for x in nights)
          + "; first sights: " + " ".join(f"{x['wall_s']:.2f}/{x['steal']:.2f}"
                                          for x in res["first_sights"]),
          file=sys.stderr)
    print(json.dumps({
        "correct": not verdict["problems"], "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
