#!/usr/bin/env python3
"""Benchmark of the ingestion topology and the batch query surface.

    python3 perfbench/run.py --workload <stream_live|stream_drain|batch_queries>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (the
repository's main sources plus perfbench/src) with sbt into .bench_build/.
The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). The exit code is not 0
when an output check fails. See perfbench/README.md.

    python3 perfbench/run.py --make-manifest
rewrites perfbench/batch_queries.json's expected rows and digests from
three passes over the listed queries; a query whose digest differs between
passes is moved to `rows_only`.
"""
import argparse
import json
import math
import os
import signal
import subprocess
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "harness.jsa")
MANIFEST = os.path.join(HERE, "batch_queries.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("stream_live", "stream_drain", "batch_queries")
RUN_LIMIT_S = 170
# stream_live reports p99 as the median of this many equal slices of a step
P99_WINDOWS = 3


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles the harness unless the classpath stamp is newer than every
    source; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from a checkout "
             "of the repository")
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= max(
            os.path.getmtime(p) for p in sources()):
        with open(stamp) as f:
            return f.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=700)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".bench_build" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    classpath = cp[-1].strip()
    # Class-data archive of the classes a workload loads: it halves JVM and
    # session start (≈8 s to ≈4 s at local[4] on 4 cores). The JVM checks
    # that the classpath's jars are unchanged, so a stale archive is
    # ignored, never wrong.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        harness(classpath, "class_archive", 1, 1, 0, time.time() + 120,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except SystemExit:
        print("perfbench: no class-data archive; JVMs start slower",
              file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(classpath)
    return classpath, True


OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def harness(classpath, workload, seed, seconds, trace, deadline, jvm_opts=None):
    """Runs one workload in a fresh JVM and returns its raw observations."""
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] \
            if os.path.exists(ARCHIVE) else []
    work = os.path.join(BUILD, "work", workload)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(BUILD, f"{workload}.raw.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *OPENS, *jvm_opts, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", work, "--data", DATA, "--manifest", MANIFEST,
           "--out", out]
    log = os.path.join(BUILD, f"{workload}.log")
    with open(log, "w") as lf:
        # Spark's local directories stay inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=BUILD, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} did not finish in time, see {log}", 3)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} exited with {rc}, see {log}", 3)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def m(value, unit):
    value = float(value)
    if not math.isfinite(value):
        raise ValueError(f"a metric read {value}")
    return {"value": value, "unit": unit}


def e2e(setup_ms, latencies_ms, ops, work_ms):
    """The end-to-end metrics every workload reports: set-up, the median
    and mean latency of its operations (records or queries) and the
    operations completed per second of the time they took. A missed record
    (+inf) counts in the median, not in the mean; it is failed either way."""
    return {
        "setup_s": m(setup_ms / 1000.0, "s"),
        "latency_p50_ms": m(stats.median(latencies_ms), "ms"),
        "latency_mean_ms": m(stats.mean(
            [x for x in latencies_ms if math.isfinite(x)]), "ms"),
        "throughput_per_s": m(ops / (work_ms / 1000.0), "1/s"),
    }


def traced(metrics):
    """The end-to-end metrics of a traced run, for the tracing overhead."""
    return {f"traced.{k}": v for k, v in metrics.items() if k != "setup_s"}


# Per-layer metrics of layers a workload does not run; they read 0 there.
NOT_RUN = {
    "stream_live": ("floor.", "heavy.", "scaling.", "share.batch_overhead_of_drain"),
    "stream_drain": ("floor.", "heavy.", "hop.", "reconcile.hops_over_p50.",
                     "generator.", "etl.backlog_records.", "share.etl_task_cpu_of_trigger.",
                     "traced.latency_p50_ms.", "traced.latency_p99_ms."),
    "batch_queries": ("etl.", "firehose.", "producer.", "generator.", "hop.",
                      "reconcile.hops_over_p50.", "share.etl_task_cpu_of_trigger.",
                      "share.batch_overhead_of_drain", "scaling.",
                      "traced.latency_p50_ms.", "traced.latency_p99_ms."),
}


def complete(workload, metrics, trace):
    """Checks the metrics against BENCHMARK.json: exactly its end-to-end
    metrics, or its per-layer metrics with those of layers the workload
    does not run set to 0."""
    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for s in spec:
        name = s["name"]
        if name in metrics:
            if metrics[name]["unit"] != s["unit"]:
                raise ValueError(f"{name} in {metrics[name]['unit']}, not {s['unit']}")
            out[name] = metrics[name]
        elif trace and name.startswith(NOT_RUN[workload]):
            out[name] = m(0, s["unit"])
        else:
            raise ValueError(f"{workload} did not measure {name}")
    extra = set(metrics) - set(out)
    if extra:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return out


def progress_rows(raw_progress, lo=None, hi=None):
    """Progress reports of batches that read data, triggered in [lo, hi]."""
    rows = []
    for p in raw_progress:
        if p["num_input_rows"] <= 0:
            continue
        t = _iso_ms(p["timestamp"])
        if (lo is None or t >= lo) and (hi is None or t <= hi):
            rows.append(dict(p, start=t,
                             end=t + p["duration_ms"].get("triggerExecution", 0)))
    return rows


def _iso_ms(ts):
    d = datetime.strptime(ts.replace("Z", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def dur(rows, key):
    return [r["duration_ms"].get(key, 0) for r in rows]


def query_layer(prefix, rows, sched, records):
    """Per-batch layer metrics of one streaming query (or several with the
    same prefix): progress durations plus listener totals of its jobs."""
    out = {f"{prefix}.batches": m(len(rows), "count")}
    if not rows:
        raise ValueError(f"{prefix}: no batches in the measured window")
    out[f"{prefix}.trigger_ms.p50"] = m(stats.median(dur(rows, "triggerExecution")), "ms")
    out[f"{prefix}.add_batch_ms.p50"] = m(stats.median(dur(rows, "addBatch")), "ms")
    cpu = sum(sched.get(f"{r['qid']}#{r['batch_id']}", {}).get("task_cpu_ms", 0.0)
              for r in rows)
    out[f"{prefix}.task_cpu_ms_per_krec"] = m(cpu / (records / 1000.0), "ms")
    return out


def stream_layers(raw, window, records, valid_records):
    """Layer metrics of the ETL and Firehose queries over a window."""
    ids = {v: k for k, v in raw["query_ids"].items()}
    sched = raw["sched"]
    lo, hi = window
    def rows(name):
        return [dict(r, qid=ids[name])
                for r in progress_rows(raw["progress"][name], lo, hi)]
    etl = rows("etl")
    fh = rows("firehose_usa") + rows("firehose_international")
    out = query_layer("etl", etl, sched, records)
    out.update(query_layer("firehose", fh, sched, valid_records))
    out["etl.trigger_ms.p99"] = m(stats.percentile(dur(etl, "triggerExecution"), 99), "ms")
    out["etl.planning_ms.p50"] = m(stats.median(dur(etl, "queryPlanning")), "ms")
    out["etl.commit_ms.p50"] = m(stats.median(
        [r["duration_ms"].get("walCommit", 0) + r["duration_ms"].get("commitOffsets", 0)
         for r in etl]), "ms")
    out["etl.latest_offset_ms.p50"] = m(stats.median(dur(etl, "latestOffset")), "ms")
    out["etl.source_rows_per_record"] = m(stats.read_amplification(
        sum(r["num_input_rows"] for r in etl), records), "ratio")
    aggs = [sched.get(f"{r['qid']}#{r['batch_id']}", {}) for r in etl]
    n = len(etl)
    out["etl.jobs_per_batch"] = m(sum(a.get("jobs", 0) for a in aggs) / n, "count")
    out["etl.stages_per_batch"] = m(sum(a.get("stages", 0) for a in aggs) / n, "count")
    out["etl.tasks_per_batch"] = m(sum(a.get("tasks", 0) for a in aggs) / n, "count")
    out["etl.shuffle_bytes_per_record"] = m(
        sum(a.get("shuffle_write_bytes", 0) for a in aggs) / records, "B")
    idle = [stats.idle_ms(r["start"], r["end"], a.get("job_intervals", []))
            for r, a in zip(etl, aggs)]
    out["etl.driver_idle_ms_per_batch"] = m(sum(idle) / n, "ms")
    overhead = sum(idle)
    for r in fh:
        a = sched.get(f"{r['qid']}#{r['batch_id']}", {})
        overhead += stats.idle_ms(r["start"], r["end"], a.get("job_intervals", []))
    return out, etl, aggs, overhead


def producer_layers(raw, records):
    a = raw["append_ms"]
    return {
        "producer.append_ms.p50": m(stats.median(a), "ms"),
        "producer.append_ms.p99": m(stats.percentile(a, 99), "ms"),
        "producer.records_per_s": m(records / (sum(a) / 1000.0), "rec/s"),
    }


def live_metrics(raw, trace):
    deadline = raw["limits"]["deadline_ms"]
    rec = raw["records"]
    steps = {s["name"]: s for s in raw["steps"]}
    lat, due, hops = {}, {}, {}
    for name, s in steps.items():
        idx = [i for i, rid in enumerate(rec["rid"])
               if s["first_rid"] <= rid < s["end_rid"]]
        vis = [rec["visible_ms"][i] for i in idx]
        due[name] = [rec["due_ms"][i] for i in idx]
        lat[name] = [v - d if v is not None and v >= 0 and v - d <= deadline
                     else float("inf") for v, d in zip(vis, due[name])]
        ok = [i for i in idx if rec["visible_ms"][i] is not None
              and rec["visible_ms"][i] >= 0 and rec["dest_ms"][i] >= 0]
        hops[name] = {
            "source": [rec["source_ms"][i] - rec["due_ms"][i] for i in ok],
            "etl": [rec["dest_ms"][i] - rec["source_ms"][i] for i in ok],
            "delivery": [rec["visible_ms"][i] - rec["dest_ms"][i] for i in ok],
        }
    step = {}
    for name in ("low", "high"):
        step[f"latency_p50_ms.{name}"] = stats.median(lat[name])
        s = steps[name]
        step[f"latency_p99_ms.{name}"] = stats.windowed_percentile(
            list(zip(due[name], lat[name])), s["start_ms"], s["end_ms"],
            P99_WINDOWS, 99)
    # never-visible records are already failed by the harness's checks
    late = sum(1 for i, v in enumerate(rec["visible_ms"])
               if v is not None and v >= 0 and v - rec["due_ms"][i] > deadline)
    high = steps["high"]
    grows = stats.backlog_grows(raw["backlog"], high["start_ms"], high["end_ms"],
                                high["rate"])
    slo_failed = (high["end_rid"] - high["first_rid"]) if (
        grows or step["latency_p99_ms.high"] > raw["limits"]["p99_ms"]) else 0
    check = raw["check"]
    failed = min(check["attempted"], check["failed"] + late + slo_failed)
    # both steps pooled; a step's delivery time runs from its start to its
    # last visible record
    pooled = lat["low"] + lat["high"]
    delivered = sum(1 for x in pooled if math.isfinite(x))
    work = sum(max(v for v, rid in zip(rec["visible_ms"], rec["rid"])
                   if s["first_rid"] <= rid < s["end_rid"]
                   and v is not None and v >= 0) - s["start_ms"]
               for s in steps.values())
    metrics = e2e(raw["setup_ms"], pooled, delivered, work)
    if not trace:
        return check, failed, metrics

    low, high = steps["low"], steps["high"]
    records = high["end_rid"] - low["first_rid"]
    valid = sum(1 for rid in rec["rid"] if low["first_rid"] <= rid < high["end_rid"])
    out, etl, aggs, _ = stream_layers(raw, (low["start_ms"], high["settled_ms"]),
                                      records, valid)
    out.update(producer_layers(raw, len(raw["late_ms"])))
    measured_late = raw["late_ms"][low["first_rid"]:high["end_rid"]]
    out["generator.late_ms.p99"] = m(stats.percentile(measured_late, 99), "ms")
    for name in ("low", "high"):
        h = hops[name]
        out[f"hop.source_ms.{name}"] = m(stats.median(h["source"]), "ms")
        for hop in ("etl", "delivery"):
            out[f"hop.{hop}_ms.p50.{name}"] = m(stats.median(h[hop]), "ms")
            out[f"hop.{hop}_ms.p99.{name}"] = m(stats.percentile(h[hop], 99), "ms")
        out[f"reconcile.hops_over_p50.{name}"] = m(
            sum(stats.median(h[k]) for k in ("source", "etl", "delivery"))
            / step[f"latency_p50_ms.{name}"], "ratio")
        out[f"traced.latency_p50_ms.{name}"] = m(step[f"latency_p50_ms.{name}"], "ms")
        out[f"traced.latency_p99_ms.{name}"] = m(step[f"latency_p99_ms.{name}"], "ms")
    out.update(traced(metrics))
    out["etl.backlog_records.max"] = m(max(
        [b for t, b in raw["backlog"] if high["start_ms"] <= t <= high["settled_ms"]]
        or [0]), "count")
    low_rows = [(r, a) for r, a in zip(etl, aggs) if r["start"] < high["start_ms"]]
    out["share.etl_task_cpu_of_trigger.low"] = m(
        sum(a.get("task_cpu_ms", 0.0) for _, a in low_rows)
        / sum(r["duration_ms"]["triggerExecution"] for r, _ in low_rows), "ratio")
    return check, failed, out


def drain_metrics(raw, trace):
    d = raw["drain"]
    wall = d["etl_ms"] + d["firehose_ms"]
    rate = d["records"] / (wall / 1000.0)
    check = d["check"]
    failed = check["failed"]
    # a record's latency runs from the drain's start to the commit that
    # makes it visible; throughput counts every generated record
    lat = stats.expand((t - d["ready_ms"], n) for t, n in d["visible"])
    metrics = e2e(raw["setup_ms"], lat, d["records"], wall)
    if not trace:
        return check, failed, metrics
    raw_main = dict(d, sched=raw["sched"])
    out, _, _, overhead = stream_layers(raw_main, (None, None), d["records"],
                                        check["valid"])
    out.update(producer_layers(raw_main, d["records"]))
    out["share.batch_overhead_of_drain"] = m(overhead / wall, "ratio")
    b = raw["baseline_local1"]
    rate1 = b["records"] / ((b["etl_ms"] + b["firehose_ms"]) / 1000.0)
    out["scaling.drain_records_per_s.local1"] = m(rate1, "rec/s")
    out["scaling.drain_x"] = m(rate / rate1, "ratio")
    out.update(traced(metrics))
    check = dict(check, attempted=check["attempted"] + b["check"]["attempted"],
                 failed=check["failed"] + b["check"]["failed"],
                 notes=check["notes"] + b["check"]["notes"])
    return check, check["failed"], out


BATCH_LAYER = ("query.build_ms", "query.planning_ms", "query.n_qe",
               "codegen.compiles", "query.jobs", "query.stages", "query.tasks",
               "query.driver_idle_ms", "query.task_run_ms", "query.task_cpu_ms",
               "query.gc_ms", "query.shuffle_write_bytes", "query.spill_bytes")


def batch_metrics(raw, trace):
    with open(MANIFEST) as f:
        manifest = json.load(f)
    expected, rows_only = manifest["expected"], set(manifest["rows_only"])
    notes, failed, attempted = [], 0, 0
    for lst in ("floor", "heavy"):
        for q in raw["queries"][lst]:
            attempted += 1
            exp = expected.get(q["name"])
            why = None
            if "error" in q:
                why = f"{q['name']} failed: {q['error']}"
            elif exp is None:
                why = f"{q['name']} has no expected result"
            elif q["rows"] != exp["rows"]:
                why = f"{q['name']} rows {q['rows']} != {exp['rows']}"
            elif q["name"] not in rows_only and q["digest"] != exp["digest"]:
                why = f"{q['name']} digest {q['digest']} != {exp['digest']}"
            if why:
                failed += 1
                notes.append(why)
    check = {"attempted": attempted, "failed": failed, "notes": notes[:20]}
    wall = {lst: sum(q["end_ms"] - q["start_ms"] for q in raw["queries"][lst])
            / 1000.0 for lst in ("floor", "heavy")}
    walls = [q["end_ms"] - q["start_ms"]
             for lst in ("floor", "heavy") for q in raw["queries"][lst]]
    metrics = e2e(raw["setup_ms"], walls, len(walls), sum(walls))
    if not trace:
        return check, failed, metrics
    out = {}
    sched, plans, cores = raw["sched"], raw["plans"], raw["cores"]
    for lst in ("floor", "heavy"):
        tot = dict.fromkeys(BATCH_LAYER, 0.0)
        bad = 0
        for q in raw["queries"][lst]:
            a = sched.get(q["name"], {})
            t0, t1, t2 = q["start_ms"], q.get("built_ms", q["end_ms"]), q["end_ms"]
            mine = [p for p in plans if t0 <= p["start_ms"] <= t2]
            in_build = sum(p["planning_ms"] for p in mine if p["start_ms"] < t1)
            in_action = sum(p["planning_ms"] for p in mine if p["start_ms"] >= t1)
            # build + action planning + the rest is the wall time; neither
            # planning share may exceed the span that contains it
            if in_build > (t1 - t0) + 1 or in_action > (t2 - t1) + 1:
                bad += 1
            tot["query.build_ms"] += t1 - t0
            tot["query.planning_ms"] += in_build + in_action
            tot["query.n_qe"] += len(mine)
            tot["codegen.compiles"] += q.get("codegen_compiles", 0)
            tot["query.jobs"] += a.get("jobs", 0)
            tot["query.stages"] += a.get("stages", 0)
            tot["query.tasks"] += a.get("tasks", 0)
            tot["query.driver_idle_ms"] += stats.idle_ms(t0, t2, a.get("job_intervals", []))
            tot["query.task_run_ms"] += a.get("task_run_ms", 0)
            tot["query.task_cpu_ms"] += a.get("task_cpu_ms", 0)
            tot["query.gc_ms"] += a.get("gc_ms", 0)
            tot["query.shuffle_write_bytes"] += a.get("shuffle_write_bytes", 0)
            tot["query.spill_bytes"] += a.get("spill_bytes", 0)
        for k, v in tot.items():
            unit = "ms" if k.endswith("_ms") else "B" if k.endswith("_bytes") else "count"
            out[f"{lst}.{k}"] = m(v, unit)
        out[f"{lst}.share.task_over_cores_of_wall"] = m(
            tot["query.task_run_ms"] / cores / (wall[lst] * 1000.0), "ratio")
        out[f"{lst}.reconcile.bad_queries"] = m(bad, "count")
        out[f"{lst}.wall_s"] = m(wall[lst], "s")
    out.update(traced(metrics))
    return check, failed, out


def make_manifest(classpath):
    raw = harness(classpath, "batch_manifest", 0, 1, 0, time.time() + 1800)
    with open(MANIFEST) as f:
        manifest = json.load(f)
    expected, rows_only = {}, set(manifest["rows_only"])
    for name in manifest["floor"] + manifest["heavy"]:
        runs = [q for p in raw["passes"] for q in p if q["name"] == name]
        errs = [q["error"] for q in runs if "error" in q]
        if errs:
            fail(f"{name} failed: {errs[0]}")
        if len({q["rows"] for q in runs}) != 1:
            fail(f"{name} row count varies between passes")
        if len({q["digest"] for q in runs}) != 1:
            rows_only.add(name)
        expected[name] = {"rows": runs[0]["rows"], "digest": runs[0]["digest"]}
    manifest["expected"] = expected
    manifest["rows_only"] = sorted(rows_only)
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-manifest", action="store_true")
    a = ap.parse_args()
    started = time.time()
    classpath, built = build()
    # a run that had to build first gets its full time after the build
    deadline = (time.time() if built else started) + RUN_LIMIT_S
    if a.make_manifest:
        make_manifest(classpath)
        return 0
    if a.workload is None:
        fail("--workload is required")
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be within 1..60")
    raw = harness(classpath, a.workload, a.seed, a.seconds, a.trace, deadline)
    compute = {"stream_live": live_metrics, "stream_drain": drain_metrics,
               "batch_queries": batch_metrics}[a.workload]
    check, failed, metrics = compute(raw, a.trace == 1)
    metrics = complete(a.workload, metrics, a.trace == 1)
    correct = check["failed"] == 0
    for note in check["notes"]:
        print(f"check: {note}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(check["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
