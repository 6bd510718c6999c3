#!/usr/bin/env python3
"""The repo benchmark: the paper's offline flow (`train`), top-k serving
(`serve`) and the streaming curation chain (`ingest`) at local[nproc].

    python3 perfbench/run.py --workload train --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16 --trace 1

It builds the engine and the harness from source (sbt, offline) on first
use, generates the inputs from the seed, runs one harness JVM per workload,
checks the outputs, and prints one JSON result as its last line. With
`--trace 0` the result carries the end-to-end metrics, measured with no
listener attached; with `--trace 1` it carries the per-layer metrics of a
traced run. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("train", "serve", "ingest")
# Every workload reads this one database, generated once per checkout; the
# run seed drives the workloads' own inputs (split seed, playlists, batches).
SCALE = 0.01
DATA_SEED = 42
INGEST_BATCHES = 10
PLAYLISTS = 400
HEAP = "3g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# The unit of work each workload repeats; its median latency is op_p50_s.
MAIN_OP = {"train": "pipeline", "serve": "request", "ingest": "batch"}

# Per-layer metrics of a traced run: (name, unit, span, field). A field
# `a:b` reads key b of the span's map a. The value is the median over the
# spans of that name; a layer the workload never calls reads 0.
SPAN_METRICS = [
    ("graph.build_s", "s", "graph.build", "wall_s"),
    ("graph.build_jobs", "count", "graph.build", "jobs"),
    ("graph.build_gap_s", "s", "graph.build", "gap_s"),
    ("graph.augment_s", "s", "graph.augment", "wall_s"),
    ("graph.augment_jobs", "count", "graph.augment", "jobs"),
    ("learn.train_s", "s", "learn.train", "wall_s"),
    ("learn.train_jobs", "count", "learn.train", "jobs"),
    ("learn.train_task_cpu_s", "s", "learn.train", "task_cpu_s"),
    ("learn.train_shuffle_mb", "MB", "learn.train", "shuffle_mb"),
    ("learn.propagate_s", "s", "learn.train", "attrs:train propagate"),
    ("learn.fit_s", "s", "learn.train", "attrs:train fit"),
    ("learn.val_metrics_s", "s", "learn.train", "attrs:train valMetrics"),
    ("serve.model_save_s", "s", "serve.model_save", "wall_s"),
    ("serve.plan_s", "s", "serve.plan", "wall_s"),
    ("serve.exec_s", "s", "serve.exec", "wall_s"),
    ("serve.jobs_per_request", "count", "op.request", "jobs"),
    ("serve.tasks_per_request", "count", "op.request", "tasks"),
    ("serve.task_cpu_s_per_request", "s", "op.request", "task_cpu_s"),
    ("serve.shuffle_mb_per_request", "MB", "op.request", "shuffle_mb"),
    ("serve.spill_mb_per_request", "MB", "op.request", "spill_mb"),
    ("serve.gap_s_per_request", "s", "op.request", "gap_s"),
    ("serve.core_busy_ratio", "ratio", "op.request", "core_busy_ratio"),
    ("streaming.start_s", "s", "streaming.start", "wall_s"),
    ("streaming.batch_jobs", "count", "streaming.batch", "jobs"),
    ("streaming.batch_tasks", "count", "streaming.batch", "tasks"),
    ("streaming.batch_task_cpu_s", "s", "streaming.batch", "task_cpu_s"),
    ("streaming.batch_gap_s", "s", "streaming.batch", "gap_s"),
    ("streaming.fold_s", "s", "streaming.fold", "wall_s"),
    ("streaming.fold_jobs", "count", "streaming.fold", "jobs"),
    ("streaming.verdict_jobs", "count", "streaming.verdict", "jobs"),
    ("multimodal.image_leg_jobs", "count", "streaming.batch", "leg_jobs:image"),
    ("multimodal.audio_leg_jobs", "count", "streaming.batch", "leg_jobs:audio"),
    ("multimodal.image_leg_task_cpu_s", "s", "streaming.batch", "leg_task_cpu_s:image"),
    ("multimodal.audio_leg_task_cpu_s", "s", "streaming.batch", "leg_task_cpu_s:audio"),
    ("ext.dedup_groups_s", "s", "ext.dedup_groups", "wall_s"),
    ("ext.dedup_groups_jobs", "count", "ext.dedup_groups", "jobs"),
]
# Values the harness measures outside spans: (name, unit, info key).
INFO_METRICS = [
    ("sources.store_files", "count", "store_files"),
    ("sources.store_bytes_per_input_byte", "ratio", "store_bytes_per_input_byte"),
    ("functions.storage_mb_setup", "MB", "storage_mb_setup"),
    ("functions.storage_mb", "MB", "storage_mb_end"),
]
# Self time (span minus child spans) per layer, summed within an operation.
SELF_LAYERS = ("graph", "learn", "serve", "streaming", "ext")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def build_dir():
    return os.path.join(ROOT, ".bench_build", "perfbench")


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (sbt, offline) unless the sources
    are unchanged since the last build; return the runtime classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f,
                           text=True, timeout=BUILD_TIMEOUT_S)
        f.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, stamp


def data_dir():
    d = os.path.join(build_dir(), f"data-sf{SCALE}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d, SCALE, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def write_inputs(workload, seed, data, inputs):
    """The workload's generated inputs; the harness reads nothing else."""
    os.makedirs(inputs)
    if workload == "serve":
        n_parts = gen.row_counts(SCALE)["part"]
        with open(os.path.join(inputs, "playlists.txt"), "w") as f:
            for pl in gen.playlists(seed, n_parts, PLAYLISTS):
                f.write(" ".join(map(str, pl)) + "\n")
    elif workload == "ingest":
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(data, "documents.parquet"))
        slices = gen.batch_slices(seed, docs.column("doc_id").to_pylist(), INGEST_BATCHES)
        bdir = os.path.join(inputs, "batches")
        os.makedirs(bdir)
        for b, ids in enumerate(slices):
            part = docs.filter(pc.is_in(docs.column("doc_id"), value_set=pc.cast(ids, "int64")))
            pq.write_table(part, os.path.join(bdir, f"batch-{b:03d}.parquet"))
        with open(os.path.join(bdir, "docs.txt"), "w") as f:
            f.write("".join(f"{len(s)}\n" for s in slices))


def java_cmd(classpath, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # the engine's own run settings (build.sbt): heap cap, ParallelGC, no UI
    flags += [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(args['work'], 'tmp')}"]
    argv = [x for k, v in args.items() for x in (f"--{k}", str(v))]
    return ["java"] + flags + ["-cp", classpath, "graft.perf.Main"] + argv


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None where /proc is absent."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return vals[7], sum(vals[:8])


def run_jvm(classpath, workload, seed, seconds, trace, data):
    base = os.path.join(build_dir(), "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    inputs, work = os.path.join(base, "inputs"), os.path.join(base, "work")
    write_inputs(workload, seed, data, inputs)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(base, "result.json")
    args = dict(workload=workload, seed=seed, seconds=seconds, trace=trace,
                data=data, inputs=inputs, work=work, out=out)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(build_dir(), "logs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    ticks = cpu_ticks()
    with open(log, "w") as f:
        p = subprocess.Popen(java_cmd(classpath, args), cwd=work, env=env,
                             stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: harness exceeded {RUN_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(out):
        fail(f"{workload}: harness exited {code}; see {log}")
    with open(out) as f:
        result = json.load(f)
    after = cpu_ticks()
    if ticks and after and after[1] > ticks[1]:
        # time the hypervisor gave to other guests: ambient noise, not the program
        result["env"]["cpu_steal_pct"] = 100.0 * (after[0] - ticks[0]) / (after[1] - ticks[1])
    if trace:
        spans = os.path.join(build_dir(), "spans", f"{workload}-seed{seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as f:
            json.dump(result["spans"], f)
        result["spans_file"] = os.path.relpath(spans, ROOT)
    shutil.copy(out, log[:-len(".log")] + ".json")
    shutil.rmtree(base, ignore_errors=True)
    return result


def main_samples(res, traced=False):
    kind = MAIN_OP[res["workload"]]
    return [o["s"] for o in res["ops"] if o["kind"] == kind and o["ok"]
            and o["traced"] == traced]


def end_to_end(res):
    """The gated metrics. Every workload reports each of them: its set-up
    time, the median latency of its unit of work and that unit's rate."""
    ops = main_samples(res)
    setup = res["session_s"] + res["warmup_s"] + (
        stats.median(res["setup_samples"]) if res["setup_samples"] else 0.0)
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "op_p50_s": {"value": stats.median(ops) if ops else 0.0, "unit": "s"},
        "ops_per_min": {"value": 60.0 * len(ops) / res["loop_s"] if res["loop_s"] else 0.0,
                        "unit": "1/min"},
    }


def named(res):
    """The workload's metrics under workload-specific names
    (`train_pipeline_s`, `recommend_p50_s`, `ingest_batch_p50_s`, ...)."""
    w, ops = res["workload"], main_samples(res)
    m = {f"setup_s.{w}": (end_to_end(res)["setup_s"]["value"], "s")}
    if not ops:
        return m
    p50, rate = stats.median(ops), 60.0 * len(ops) / res["loop_s"]
    if w == "train":
        m["train_pipeline_s"] = (p50, "s")
    elif w == "serve":
        m["recommend_p50_s"] = (p50, "s")
        m["recommend_per_min"] = (rate, "1/min")
        t = stats.tail(ops)
        if t:
            m[f"recommend_p{t[0]:g}_s"] = (t[1], "s")
    else:
        verdicts = [o["s"] for o in res["ops"] if o["kind"] == "verdict" and o["ok"]
                    and not o["traced"]]
        m["ingest_batch_p50_s"] = (p50, "s")
        m["ingest_docs_per_s"] = (res["info"]["docs"] / res["loop_s"], "1/s")
        if verdicts:
            m["verdict_s"] = (stats.median(verdicts), "s")
    return m


def field(span, f):
    if ":" in f:
        k, sub = f.split(":", 1)
        return span.get(k, {}).get(sub, 0.0)
    return span[f]


def per_layer(res):
    spans = res["spans"]
    out = {}
    for name, unit, span_name, f in SPAN_METRICS:
        vals = [field(s, f) for s in spans if s["name"] == span_name]
        out[name] = {"value": stats.median(vals) if vals else 0.0, "unit": unit}
    for name, unit, key in INFO_METRICS:
        out[name] = {"value": res["info"].get(key, 0.0), "unit": unit}
    for layer in SELF_LAYERS:
        per_op = {}
        for s in spans:
            if s["name"].startswith(layer + "."):
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["self_s"]
        out[f"{layer}.self_s"] = {"value": stats.median(list(per_op.values())) if per_op
                                  else 0.0, "unit": "s"}
    traced, untraced = main_samples(res, True), main_samples(res)
    ratio = stats.median(traced) / stats.median(untraced) if traced and untraced else 0.0
    out["trace.overhead_ratio"] = {"value": ratio, "unit": "ratio"}
    return out


def env_stamp(res, seed, stamp, data):
    env = dict(res["env"])
    env.update(nproc=nproc(), seed=seed, source_sha256=stamp[:16],
               data=os.path.relpath(data, ROOT), scale_factor=SCALE)
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                            capture_output=True, text=True)
    env["commit"] = commit.stdout.strip() if commit.returncode == 0 else "unknown"
    return env


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    classpath, stamp = build()
    data = data_dir()
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    attempted = failed = 0
    metrics = {}
    for w in workloads:
        res = run_jvm(classpath, w, a.seed, a.seconds, a.trace, data)
        n, bad = stats.tally(res["ops"])
        attempted, failed = attempted + n, failed + bad
        print(json.dumps({"env": env_stamp(res, a.seed, stamp, data)}))
        for o in res["ops"]:
            if not o["ok"]:
                print(f"{w}: FAILED {o['kind']}: {o['detail']}")
        print(f"{w}: attempted {n} failed {bad} ({len(main_samples(res))} untraced "
              f"{MAIN_OP[w]} operations in {res['loop_s']:.1f} s)")
        if w == "train":
            print(f"{w}: input rows {res['info'].get('input_rows')}")
        for k, (v, unit) in named(res).items():
            print(f"{w}: {k} = {v:.4f} {unit}")
        if a.trace:
            layers = per_layer(res)
            print(f"{w}: spans written to {res['spans_file']}")
            for k, m in layers.items():
                print(f"{w}: {k} = {m['value']:.4f} {m['unit']}")
            metrics.update(layers if a.workload != "all" else
                           {f"{w}.{k}": m for k, m in layers.items()})
        elif a.workload == "all":
            metrics.update({k: {"value": v, "unit": u} for k, (v, u) in named(res).items()})
        else:
            metrics = end_to_end(res)
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
