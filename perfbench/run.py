#!/usr/bin/env python3
"""graft benchmark: three workloads over the engine, the rule layer, the
sources and the streaming ingest gate, each checked against a reference.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  engine_replay  SHCarData files through the static-rule engine
  eca_live       open-loop events and scripted rule churn through the
                 dynamic ECA engine
  gate_live      open-loop documents through the frozen eight-stage gate

The first run in a checkout compiles the repository's sources together
with this directory's Scala harness into `.bench_build/` (about half a
minute); later runs reuse it. Inputs are generated from the seed for each
run. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it gives
the per-run detail (failed share, latency percentile and sample count,
host noise). `--trace 1` reports the per-layer metrics instead of the
end-to-end ones.

Own tests: python3 -m unittest discover -s perfbench/tests
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
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside the build directory

import gen  # noqa: E402
import model  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("engine_replay", "eca_live", "gate_live")
DEADLINE_S = 170.0
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def build(jars):
    """Compile the repository's main sources and the harness, once per
    distinct source tree."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    os.remove(argfile)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("compilation failed", 3)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def run_jvm(classes, jars, work, workload, seconds, trace, cores, deadline):
    out = os.path.join(work, f"result-{cores}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--inputs", os.path.join(work, "inputs"),
            "--work", work, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores)])
    t0 = time.time()
    log = open(os.path.join(work, f"jvm-{cores}.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{workload} did not finish in time")
    finally:
        log.close()
    with open(os.path.join(work, f"jvm-{cores}.log")) as f:
        text = f.read()
    if p.returncode != 0:
        sys.stderr.write(text[-6000:])
        fail(f"{workload} failed (exit {p.returncode})", 4)
    sys.stderr.write("".join(l for l in text.splitlines(True) if l.startswith("[perfbench")))
    with open(out) as f:
        raw = json.load(f)
    raw["jvm_session_s"] = raw["session_ready_epoch_ms"] / 1000.0 - t0
    return raw


# ------------------------------------------------------------ checking

def check_replay(raw, seed):
    """Every replay's alerts against the static model, per event; an
    event's latency is the delivery of its file's trigger."""
    info = gen.REPLAY_FILE_EVENTS
    rows = gen.car_lines(seed, info * gen.REPLAY_FILES)
    events = [f for _, f in rows]
    expect = defaultdict(Counter)
    for ident, key, ts, agg in model.run_static(events, gen.README_RULES):
        expect[(key, ts)][(ident, agg)] += 1
    attempted = failed = 0
    lat, wall = [], 0.0
    for run in raw["runs"]:
        got = defaultdict(Counter)
        for ident, key, ts, agg in model.canon(run["alerts"]):
            got[(key, ts)][(ident, agg)] += 1
        ends = run["batch_end_ms"]
        aligned = len(ends) == gen.REPLAY_FILES
        wall += run["wall_ms"] / 1000.0
        for i, ev in enumerate(events):
            attempted += 1
            k = ("{carId=%s}" % ev["carId"], ev["ts"])
            if aligned and got.get(k, Counter()) == expect.get(k, Counter()):
                lat.append(ends[i // info])
            else:
                failed += 1
    return attempted, min(failed, attempted), lat, (attempted - failed) / wall


def check_live(raw, in_dir):
    """Alerts against the model fed the run's trigger boundaries.
    Throughput counts every checked event of the open loop, lead included,
    up to the stream's drain: the longer window damps the edge effect of
    the trigger still running when the feed ends."""
    events, script = gen.read_live(in_dir)
    n = raw["n_events"]
    batches = raw["batches"]
    consistent = raw["engine_batches"] == len(batches) and \
        all(b[0] == a[1] for a, b in zip(batches, batches[1:])) and \
        batches and batches[0][0] == 0 and batches[-1][1] == n
    expect = model.run_batches(events, [tuple(b) for b in batches], script,
                               raw["applied_after"]) if consistent else []
    got = model.canon(raw["alerts"], raw["children"])
    periodic = {("rule", r["queryId"]) for _, r in script
                if "queryId" in r and r.get("queryState") != "DELETE"
                and not model.is_per_event(r) and not model.is_passthrough(r)}
    base, step = gen.LIVE_BASE_TS, gen.LIVE_STEP_MS

    def split(alerts):
        per, win = defaultdict(Counter), Counter()
        for ident, key, ts, agg in alerts:
            if ident in periodic:
                win[(ident, key, ts, agg)] += 1
            else:
                per[(ts - base) // step][(ident, key, agg)] += 1
        return per, win

    e_per, e_win = split(expect)
    g_per, g_win = split(got)
    # every event is checked; those due after the stream's lead are timed
    lat, failed = [], 0
    for i in range(n):
        d = raw["delivered_ms"][i]
        if consistent and d >= 0 and g_per.get(i, Counter()) == e_per.get(i, Counter()):
            if i >= raw["timed_from"]:
                lat.append(d)
        else:
            failed += 1
    failed += sum(((e_win - g_win) + (g_win - e_win)).values())
    failed += sum(1 for i in g_per if not 0 <= i < n)
    failed = min(failed, n)
    return n, failed, lat, (n - failed) / (raw["stream_ms"] / 1000.0)


def check_gate(raw):
    """Every fed document is checked; those due after the lead are timed.
    Throughput is counted as in check_live."""
    good = [ok and d >= 0 for d, ok in zip(raw["delivered_ms"], raw["ok"])]
    lat = [d for j, (d, g) in enumerate(zip(raw["delivered_ms"], good))
           if g and j >= raw["timed_from"]]
    n = raw["n_items"]
    return n, n - sum(good), lat, sum(good) / (raw["stream_ms"] / 1000.0)


# ------------------------------------------------------------- metrics

def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    spec = declared()
    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpu0, t0 = stats.read_cpu(), time.time()
        in_dir = os.path.join(work, "inputs")
        tg = time.time()
        gen.generate(a.workload, a.seed, in_dir, a.seconds)
        gen_s = time.time() - tg
        raw = run_jvm(classes, jars, work, a.workload, a.seconds, a.trace, cores, deadline)
        if a.workload == "engine_replay":
            attempted, failed, lat, thr = check_replay(raw, a.seed)
        elif a.workload == "eca_live":
            attempted, failed, lat, thr = check_live(raw, in_dir)
        else:
            attempted, failed, lat, thr = check_gate(raw)
        single = None
        if a.trace and a.workload == "engine_replay":
            one = run_jvm(classes, jars, work, a.workload, 1, False, 1, deadline)
            _, _, _, single = check_replay(one, a.seed)
        cpu1 = stats.read_cpu()
        noise = {"loadavg": stats.loadavg(), "steal_pct": stats.steal_pct(cpu0, cpu1),
                 "run_s": time.time() - t0, "build_s": t0 - start}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and attempted > 0 and len(lat) > 0
    p50 = stats.median(lat) if lat else float("nan")
    tail_p, tail_v, beyond = stats.tail(lat) if lat else (0.0, float("nan"), 0)
    setup = gen_s + raw["jvm_session_s"] + stats.median(raw["setup_reps_s"])
    e2e = {"setup_s": setup, "throughput_per_s": thr, "latency_p50_ms": p50,
           "latency_tail_ms": tail_v, "peak_rss_mb": raw["peak_rss_mb"]}
    detail = {"workload": a.workload, "seed": a.seed,
              "failed_share": {"value": failed / attempted if attempted else 1.0,
                               "unit": "share"},
              "latency_tail_percentile": tail_p, "latency_samples": len(lat),
              "latency_samples_beyond_tail": beyond,
              "setup_reps_s": raw["setup_reps_s"], "host": noise}
    if len(lat) >= 2:
        # a backlog that grows over the run shows as a later half slower than the earlier
        half = len(lat) // 2
        detail["latency_p50_halves_ms"] = [stats.median(lat[:half]), stats.median(lat[half:])]
    if "trigger_ms" in raw:
        detail["trigger_ms"] = raw["trigger_ms"]
        detail["trigger_rows"] = [hi - lo for lo, hi in raw.get("batches", [])]
    if "runs" in raw:
        detail["replay_wall_ms"] = [r["wall_ms"] for r in raw["runs"]]
    if "delivery_jvm" in raw:
        detail["delivery_jvm"] = raw["delivery_jvm"]
    if "verdicts" in raw:
        detail["verdicts"] = dict(Counter(v for v in raw["verdicts"] if v))
    if a.trace:
        layers = dict(raw.get("layers", {}))
        layers["host.steal_pct"] = noise["steal_pct"]
        layers["host.loadavg"] = noise["loadavg"]
        layers.setdefault("host.generator_lag_ms", raw.get("generator_lag_ms", 0.0))
        if single is not None:
            layers["streaming.single_thread_events_per_s"] = single
        unknown = sorted(set(layers) - {m["name"] for m in spec["per_layer"]})
        if unknown:
            detail["unreported_layers"] = unknown
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        # a run with no checked item has no latency; it reports 0 and correct = false
        metrics = {m["name"]: {"value": float(e2e[m["name"]]) if lat else 0.0,
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for k in ("latency_p50_ms", "latency_tail_ms"):
        detail[k] = {"value": e2e[k] if lat else None, "unit": "ms"}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
