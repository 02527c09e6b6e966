#!/usr/bin/env python3
"""graft benchmark: one workload per command, metrics on the last line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles graft's
``src/main/scala`` and the benchmark's ``perfbench/src`` with the Scala
compiler shipped with Spark (``$SPARK_HOME/jars``, else pyspark's jars)
into ``.bench_build/`` and records a class-data-sharing archive; later runs
reuse both while the sources are unchanged. The benchmark JVM runs graft at
``local[nproc]``
with shuffle partitions = nproc; this script checks its outputs against
the seed's expectations (``gen.py``) and the recorded query digests
(``mix_digests.json``), then prints a human-readable summary line and, last,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.

Other modes: ``--record-digests`` recomputes ``mix_digests.json`` (run it
only after ``graft.Verify`` + ``dev/check.py`` pass for the mix ids), and
``--digest-passes K`` prints the digests of K passes in one session.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from summary import median, tail  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# the fixed sf0.1 tables TESTDATA.md describes
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
WORKLOADS = ("capture_clean", "capture_storm", "stream_dlq", "pipeline_mix")
JVM_TIMEOUT_S = 170
DIGEST_NOTE = ("[row count, sum over rows of pmod(xxhash64(all columns), 2^31-1)], "
               "recorded after graft.Verify + dev/check.py --partial passed every mix id")
HEAP = "3g"
CDS_ARCHIVE = "app.jsa"
# Seeded inputs, as (block rows, failing rows per block, blocks): one
# 250,000-row block per capture iteration; one 5,000-row file per trigger.
CAPTURE = {"capture_clean": (250_000, 250, 1), "capture_storm": (250_000, 25_000, 1)}
STREAM = (5_000, 50, 100)
STREAM_WARMUP = (1_000, 10, 20)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not graft:
        fail("src/main/scala holds no sources: run from a full checkout of the repository")
    if not bench:
        fail("perfbench/src holds no benchmark sources")
    return graft, bench


def scalac(jars, classpath, out, files):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        fail(f"compile failed: {' '.join(cmd[:8])} ...")


def jar(classes_dir, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes_dir):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes_dir))


def build(jars):
    """Compile graft and the benchmark once per distinct source set, then
    record a class-data-sharing archive (AppCDS) from a short capture run,
    which halves JVM + Spark session start for every later run."""
    graft, bench = sources()
    h = hashlib.sha256()
    for p in graft + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "graft"))
    os.makedirs(os.path.join(tmp, "bench"))
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, os.path.join(tmp, "graft"), graft)
    scalac(jars, jar_cp + os.pathsep + os.path.join(tmp, "graft"), os.path.join(tmp, "bench"), bench)
    for part in ("graft", "bench"):
        jar(os.path.join(tmp, part), os.path.join(tmp, part + ".jar"))
        shutil.rmtree(os.path.join(tmp, part))
    os.rename(tmp, out)
    train = argparse.Namespace(workload="capture_clean", seed=0, seconds=1, trace=0,
                               digest_passes=0)
    work = workdir("cds")
    write_inputs(train.workload, train.seed, work, len(os.sched_getaffinity(0)))
    try:
        run_jvm(out, jars, train, work, "cds",
                [f"-XX:ArchiveClassesAtExit={os.path.join(out, CDS_ARCHIVE)}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def workdir(workload):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def write_inputs(workload, seed, work, cpus):
    """Write the workload's seeded inputs three times (set-up is repeated
    so ``setup_s`` can take the median); returns the write times in ms."""
    def once():
        t0 = time.time()
        if workload in CAPTURE:
            dirs = [("input", seed, *CAPTURE[workload], cpus)]
        else:
            dirs = [("stream_src", seed, *STREAM, STREAM[2]),
                    ("warm_src", seed + 1, *STREAM_WARMUP, STREAM_WARMUP[2])]
        for name, s, block, errors, blocks, files in dirs:
            path = os.path.join(work, name)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            gen.write(path, s, block, errors, blocks, files)
        return (time.time() - t0) * 1000
    if workload not in CAPTURE and workload != "stream_dlq":
        return [0.0]
    return [once() for _ in range(3)]


def run_jvm(classes, jars, args, work, tag, extra=()):
    """Launch the benchmark JVM; returns (raw result, launch epoch ms)."""
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(work, "raw.json")
    cpus = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([os.path.join(classes, "bench.jar"),
                          os.path.join(classes, "graft.jar"), os.path.join(jars, "*")])
    archive = os.path.join(classes, CDS_ARCHIVE)
    if not extra and os.path.exists(archive):
        extra = [f"-XX:SharedArchiveFile={archive}"]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cpus}",
            f"-XX:CICompilerCount={max(2, min(cpus, 4))}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"] + list(extra)
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--work", work, "--data", SF_DIR, "--out", out,
              "--mix", ",".join(load_json("mix.json")["ids"]),
              "--passes", str(args.digest_passes)])
    log_path = os.path.join(logs, f"{tag}.log")
    launch_ms = time.time() * 1000
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log in {log_path}")
    with open(out) as f:
        return json.load(f), launch_ms


# ---------------------------------------------------------------- checks

def check_capture(raw, seed):
    block, errors, _ = CAPTURE[raw["workload"]]
    exp = gen.expected(seed, block, errors)
    bad_ops = [o for o in raw["ops"] if o["n_rows"] != exp["n_rows"]
               or o["n_errors"] != exp["n_errors"] or o["by_class"] != exp["by_class"]]
    rb = raw["readback"]
    problems = [f"op telemetry != expected {exp['n_errors']} errors: {o}" for o in bad_ops[:3]]
    for k in ("values_rows", "sum_q", "sum_n", "sum_id"):
        if rb[k] != exp[k]:
            problems.append(f"values sink {k} {rb[k]} != {exp[k]}")
    if rb["dlq_rows"] != exp["n_errors"]:
        problems.append(f"dlq rows {rb['dlq_rows']} != {exp['n_errors']}")
    classes = {1: gen.DIV_ZERO, 2: gen.BAD_CAST}
    if not rb["dlq_sample"]:
        problems.append("no dead letter decoded")
    for s in rb["dlq_sample"]:
        i = json.loads(s["input_value"])["id"]
        _, kind = gen.row(i, seed, block, errors)
        if s["input_value"] != gen.input_value(i, seed, block, errors) \
                or classes.get(kind) != s["error_class"] or not s["has_stack_trace"]:
            problems.append(f"dead letter does not round-trip: {s}")
            break
    # a failed output check fails the operation whose sinks it read
    return len(bad_ops) + (1 if problems and not bad_ops else 0), problems


def check_stream(raw, seed):
    block, errors, _ = STREAM
    per_file = gen.expected(seed, block, errors)  # every file has the same counts
    ops, rb = raw["ops"], raw["readback"]
    bad_ops = [o for o in ops if o["input_rows"] != block or o["n_rows"] != block
               or o["n_errors"] != per_file["n_errors"] or o["by_class"] != per_file["by_class"]]
    problems = [f"trigger telemetry != expected: {o['batch_id']}" for o in bad_ops[:3]]
    ids = [o["batch_id"] for o in ops]
    if len(ids) != len(set(ids)):
        problems.append("a batch_id was committed twice")
    committed = set(rb["committed"])
    for sink in ("values_batches", "dlq_batches"):
        if not committed <= set(rb[sink]):
            problems.append(f"{sink} misses committed batches {sorted(committed - set(rb[sink]))}")
    offered = sum(o["input_rows"] for o in ops)
    if rb["values_rows"] + rb["dlq_rows"] != offered:
        problems.append(f"sink totals {rb['values_rows']}+{rb['dlq_rows']} != offered {offered}")
    tel_rows = sum(o["n_rows"] for o in ops)
    tel_errors = sum(o["n_errors"] for o in ops)
    if tel_rows != offered or tel_errors != rb["dlq_rows"]:
        problems.append(f"captureTelemetry totals {tel_rows}/{tel_errors} disagree with the sinks")
    return len(bad_ops) + (1 if problems and not bad_ops else 0), problems


def check_mix(raw, _seed):
    want = load_json("mix_digests.json")["digests"]
    bad = [o for o in raw["ops"] if [o["rows"], o["hash"]] != want.get(o["id"])]
    return len(bad), [f"{o['id']}: digest {[o['rows'], o['hash']]} != {want.get(o['id'])}"
                      for o in bad[:5]]


CHECKS = {"capture_clean": check_capture, "capture_storm": check_capture,
          "stream_dlq": check_stream, "pipeline_mix": check_mix}


# --------------------------------------------------------------- metrics

def end_to_end(raw, launch_ms, failed, gen_ms):
    """The end-to-end metrics that apply to the workload, each with its
    unit and the number of samples behind it."""
    ops = raw["ops"]
    op_ms = [o["ms"] for o in ops]
    n = len(ops)
    timed_s = raw["timed_ms"] / 1000
    setup_s = (raw["main_entry_epoch_ms"] - launch_ms + raw["session_ms"]
               + median(gen_ms) + sum(raw["warmup_ms"])) / 1000
    m = {"setup_s": (setup_s, "s", len(gen_ms)),
         "op_ms_p50": (median(op_ms), "ms", n),
         "ops_per_s": (n / timed_s, "1/s", n),
         "fail_frac": (failed / n, "ratio", n),
         "peak_rss_mb": (raw["peak_rss_mb"], "MB", 1)}
    w = raw["workload"]
    if w != "pipeline_mix":
        rows = n * CAPTURE[w][0] if w in CAPTURE else sum(o["input_rows"] for o in ops)
        m["rows_per_s"] = (rows / timed_s, "rows/s", n)
    out = {k: {"value": v, "unit": u, "n": c} for k, (v, u, c) in m.items()}
    if w == "stream_dlq":
        out["trigger_ms_p50"] = {"value": median(op_ms), "unit": "ms", "n": n}
        t = tail(op_ms)
        if t:
            out["trigger_ms_tail"] = {"value": t[0], "unit": "ms", "n": n,
                                      "percentile": round(t[1], 1)}
    if w == "pipeline_mix":
        out["suite_s"] = {"value": median(raw["passes_ms"]) / 1000, "unit": "s",
                          "n": len(raw["passes_ms"])}
        out["query_s_p50"] = {"value": median(op_ms) / 1000, "unit": "s", "n": n}
    return out


def covered(a, b, ivs):
    """Length of ``[a, b]`` covered by the union of the intervals ``ivs``."""
    ivs = sorted((max(s, a), min(e, b)) for s, e in ivs if min(e, b) > max(s, a))
    total, cur = 0.0, None
    for s, e in ivs:
        if cur is None or s > cur[1]:
            total += 0 if cur is None else cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (0 if cur is None else cur[1] - cur[0])


def self_times(spans):
    """Self time per span name: each span's duration minus the part its
    child spans cover, summed over the spans of that name."""
    out = {}
    for i, s in enumerate(spans):
        kids = [(k["start"], k["end"]) for k in spans if k["parent"] == i]
        own = s["end"] - s["start"] - covered(s["start"], s["end"], kids)
        total, count = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (total + own, count + 1)
    return [{"name": k, "self_ms": v[0], "count": v[1]}
            for k, v in sorted(out.items(), key=lambda kv: -kv[1][0])]


def spans_of(trace):
    return [dict(zip(("name", "op", "start", "end", "parent"), s)) for s in trace["spans"]]


def per_layer(raw, cpus):
    """Per-layer metrics from the traced run's records (0 where the
    workload does not load the layer)."""
    t, w, ops = raw["trace"], raw["workload"], raw["ops"]
    mix_ids = load_json("mix.json")["ids"]
    names = [m["name"] for m in load_json("../BENCHMARK.json")["per_layer"]]
    out = {n: 0.0 for n in names}
    spans = spans_of(t)
    stages = {s["id"]: s for s in t["stages"]}

    if w == "stream_dlq":
        intervals = [(o["batch_id"], o["start_epoch_ms"], o["start_epoch_ms"] + o["ms"]) for o in ops]
        jobs_of = {b: [j for j in t["jobs"] if j["batch"] == b] for b, _, _ in intervals}
    else:
        top = [s for s in spans if s["parent"] == -1 and s["op"] >= 0
               and s["name"] in ("iteration", "query")]
        intervals = [(s["op"], s["start"], s["end"]) for s in top]
        jobs_of = {op: [j for j in t["jobs"] if a <= j["start"] <= b] for op, a, b in intervals}
    n = max(len(intervals), 1)

    def per_op(f):
        return sum(f(op, a, b) for op, a, b in intervals) / n

    def op_stages(op):
        return [stages[i] for j in jobs_of[op] for i in j["stages"] if i in stages]

    def phases_in(a, b):
        return [p for p in t["phases"] if a <= p["start"] <= b]

    out["scheduler.jobs"] = per_op(lambda op, a, b: len(jobs_of[op]))
    out["scheduler.stages"] = per_op(lambda op, a, b: len(op_stages(op)))
    out["scheduler.tasks"] = per_op(lambda op, a, b: sum(s["tasks"] for s in op_stages(op)))
    out["scheduler.idle_ms"] = per_op(
        lambda op, a, b: (b - a) - covered(a, b, [(j["start"], j["end"]) for j in jobs_of[op]]))
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = per_op(
            lambda op, a, b, k=phase: sum(p[k] for p in phases_in(a, b)))
    out["functions.try_capture_nodes"] = per_op(
        lambda op, a, b: sum(p["try_capture_nodes"] for p in phases_in(a, b)))
    run_ms = sum(s["run_ms"] for op, _, _ in intervals for s in op_stages(op))
    wall_ms = sum(b - a for _, a, b in intervals)
    out["executor.busy_frac"] = run_ms / (cpus * wall_ms) if wall_ms else 0.0
    for key, field in (("gc_ms", "gc_ms"), ("shuffle_read_bytes", "shuffle_read"),
                       ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        out[f"executor.{key}"] = per_op(lambda op, a, b, f=field: sum(s[f] for s in op_stages(op)))
    out["executor.single_task_stage_ms"] = per_op(
        lambda op, a, b: sum(s["end"] - s["start"] for s in op_stages(op) if s["tasks"] == 1))
    skews = [max(s["task_ms"]) / max(median(s["task_ms"]), 1)
             for op, _, _ in intervals for s in op_stages(op) if len(s["task_ms"]) >= cpus]
    out["executor.task_skew"] = median(skews) if skews else 0.0

    def span_median(name):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] >= 0]
        return median(xs) if xs else 0.0

    if w.startswith("capture"):
        lay = raw["layers"]
        errors = CAPTURE[w][1]
        out["core.values_ms"] = span_median("values_action")
        out["core.dlq_ms"] = span_median("dlq_action")
        out["core.observe_wait_ms"] = span_median("observe_wait")
        out["core.serde_ms"] = lay["dlq_avro_ms"] - lay["dlq_struct_ms"]
        out["core.dlq_bytes_per_error"] = lay["dlq_bytes"] / errors
        out["core.input_scans"] = per_op(lambda op, a, b: sum(
            1 for j in jobs_of[op]
            if any(stages[i]["records_read"] > 0 for i in j["stages"] if i in stages)))
        out["functions.trace_render_ms"] = lay["values_noop_ms"] - lay["values_noop_no_traces_ms"]
        out["functions.builtin_ratio"] = lay["values_noop_ms"] / lay["twin_noop_ms"]
        out["functions.error_cpu_us"] = (lay["capture_cpu_ns"] - lay["twin_cpu_ns"]) / 1000 / errors
    if w == "stream_dlq":
        for key, field in (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets"),
                           ("query_planning_ms", "queryPlanning"),
                           ("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch")):
            out[f"streaming.{key}"] = median([o["durations"][field] for o in ops])
        out["streaming.jobs_per_trigger"] = out["scheduler.jobs"]
        out["streaming.sink_files_per_trigger"] = raw["readback"]["sink_files"] / n
    if w == "pipeline_mix":
        loads = raw["layers"].values()
        out["sources.load_ms"] = sum(x["ms"] for x in loads) / len(loads)
        out["sources.load_jobs"] = sum(x["jobs"] for x in loads) / len(loads)
        out["driver.build_ms"] = median([o["build_ms"] for o in ops])
        builds = [s for s in spans if s["name"] == "build" and s["op"] >= 0]
        out["driver.build_jobs"] = sum(
            sum(1 for j in t["jobs"] if s["start"] <= j["start"] <= s["end"]) for s in builds
        ) / max(len(builds), 1)
        for qid in mix_ids:
            mine = [o for o in ops if o["id"] == qid]
            out[f"query.{qid}_s"] = median([o["ms"] for o in mine]) / 1000
            out[f"query.{qid}_jobs"] = sum(
                len(jobs_of[i]) for i, o in enumerate(ops) if o["id"] == qid) / len(mine)
    missing = set(out) - set(names)
    assert not missing, f"per-layer metrics not declared in BENCHMARK.json: {sorted(missing)}"
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", action="store_true")
    p.add_argument("--digest-passes", type=int, default=0)
    args = p.parse_args()
    if not 0 <= args.seed < 2**31:
        fail("--seed must be in [0, 2^31)")

    jars = spark_jars()
    classes = build(jars)
    if args.workload == "pipeline_mix" and not os.path.isdir(SF_DIR):
        fail(f"pipeline_mix reads the fixed sf0.1 tables at {SF_DIR}, which are missing")
    if args.record_digests or args.digest_passes:
        args.workload = "digests"
        raw, _ = run_jvm(classes, jars, args, workdir("digests"), "digests")
        passes = raw["digests"]
        if args.record_digests:
            path = os.path.join(HERE, "mix_digests.json")
            with open(path, "w") as f:
                json.dump({"tables": "sf0.1", "cpus": raw["cpus"], "digest": DIGEST_NOTE,
                           "digests": passes[0]}, f, indent=1, sort_keys=True)
                f.write("\n")
        print(json.dumps({"stable": all(x == passes[0] for x in passes), "passes": passes}))
        return

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = workdir(args.workload)
    gen_ms = write_inputs(args.workload, args.seed, work, len(os.sched_getaffinity(0)))
    raw, launch_ms = run_jvm(classes, jars, args, work, tag)
    failed, problems = CHECKS[args.workload](raw, args.seed)
    for msg in problems:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    attempted = len(raw["ops"])
    e2e = end_to_end(raw, launch_ms, failed, gen_ms)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "end_to_end": e2e}))
    spec = load_json("../BENCHMARK.json")
    if args.trace:
        layer = per_layer(raw, raw["cpus"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
        with open(os.path.join(BUILD, "reports", tag + ".json"), "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layer,
                       "self_ms": self_times(spans_of(raw["trace"])),
                       "checks": problems, "trace": raw["trace"]}, f)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
