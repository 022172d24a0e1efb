#!/usr/bin/env python3
"""Benchmark of the Spark profiler and its operator library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
this harness from source with sbt (offline) and writes the input tables;
both are kept under perfbench/.work and rebuilt when a source changes.
Each run then starts one JVM that sets up the workload, issues timed
calls from one closed-loop caller for S seconds, and checks every
output. The last line of stdout is the result object; the full record,
with provenance, is kept in perfbench/.work/results/. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("profile_stream", "operator_suite")
PASSES = ("aggregate", "categories", "histograms", "labeler", "vocab",
          "order", "datetime_formats")
QUERIES = {
    "stream_join": "StreamingQueries", "graph_triangles": "GraphQueries",
    "join_pricing": "JoinQueries",
    "win_rankdist": "WindowQueries", "labeler_votes": "LabelerQueries",
    "sniff_profile": "ReaderQueries", "redact": "PipelineQueries",
    "multimodal_decode": "MultimodalQueries",
}
# Spark 4 on JDK 17 needs these outside spark-submit (the program's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p, min_beyond=10):
    """The p-th percentile (nearest rank) of xs, or None unless at least
    `min_beyond` samples lie above it: a tail figure resting on fewer
    samples says more about luck than about the system."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def highest_percentile(xs, candidates=(99, 95, 90, 75), min_beyond=10):
    """(p, value) for the highest candidate percentile that rests on at
    least `min_beyond` samples beyond it, or None."""
    for p in candidates:
        v = percentile(xs, p, min_beyond)
        if v is not None:
            return p, v
    return None


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs, spans):
    """Map each job id to the innermost span whose window holds the whole
    job, by time alone. The benchmark issues one call at a time, so
    top-level windows never overlap. Jobs no span holds map to None."""
    out = {}
    for j in jobs:
        best = None
        for s in spans:
            if (s["start_ms"] <= j["start_ms"] and j["end_ms"] >= 0
                    and j["end_ms"] <= s["end_ms"]
                    and (best is None or s["start_ms"] >= best["start_ms"]
                         and s["end_ms"] <= best["end_ms"])):
                best = s
        out[j["id"]] = best["id"] if best else None
    return out


# ---------------------------------------------------------------- metrics

def end_to_end(raw, launch_ms, workload):
    """The plain run's user-visible figures."""
    return {
        "unit_ms": (workload_unit(unit_times(raw, traced=False), workload), "ms"),
        "setup_s": ((raw["first_call_ms"] - launch_ms) / 1000.0, "s"),
    }


def top_spans(raw):
    return [s for s in raw["spans"] if s["parent"] == -1]


def unit_times(raw, traced):
    """{cycle index: [(attrs, ms) of its units]} over the successful units
    of the given kind."""
    out = {}
    cycle = raw["cycle"]
    for i, s in enumerate(top_spans(raw)):
        if s["traced"] == traced and s["ok"]:
            out.setdefault(i // cycle, []).append((s["attrs"], s["dur_ms"]))
    return out


def workload_unit(units, workload):
    """Median unit time. For operator_suite the unit is a pass: the sum
    over queries of each query's median time."""
    if workload != "operator_suite":
        return median([ms for c in units.values() for _, ms in c])
    per_query = {}
    for c in units.values():
        for attrs, ms in c:
            per_query.setdefault(attrs["query"], []).append(ms)
    return sum(median(v) for v in per_query.values())


def per_layer(raw, workload):
    spans = raw["spans"]
    jobs = {j["id"]: j for j in raw["jobs"]}
    owner = attribute(raw["jobs"], spans)
    by_id = {s["id"]: s for s in spans}

    def top_of(sid):
        while by_id[sid]["parent"] != -1:
            sid = by_id[sid]["parent"]
        return sid

    tops = top_spans(raw)
    jobs_of = {s["id"]: [] for s in tops}
    unattributed = 0
    for jid, sid in owner.items():
        if sid is None:
            unattributed += 1
        else:
            jobs_of[top_of(sid)].append(jobs[jid])

    cycle = raw["cycle"]
    cycles = {}
    for i, s in enumerate(tops):
        if s["traced"] and s["ok"]:
            cycles.setdefault(i // cycle, []).append(s)

    cpus = raw["cpus"]
    empty = raw["empty_job_ms"]

    def spark_of(units):
        js = [j for u in units for j in jobs_of[u["id"]]]
        wall = sum(u["dur_ms"] for u in units)
        job_ms = sum(union_ms([(j["start_ms"], j["end_ms"]) for j in jobs_of[u["id"]]])
                     for u in units)
        cpu = sum(j["cpu_ms"] for j in js)
        return {
            "spark.jobs": len(js),
            "spark.stages": sum(j["stages"] for j in js),
            "spark.tasks": sum(j["tasks"] for j in js),
            "spark.job_ms": job_ms,
            "spark.driver_residual_ms": wall - job_ms,
            "spark.sched_floor_ms": len(js) * empty,
            "spark.input_rows": sum(j["input_rows"] for j in js),
            "spark.input_bytes": sum(j["input_bytes"] for j in js),
            "spark.executor_run_ms": sum(j["run_ms"] for j in js),
            "spark.executor_cpu_ms": cpu,
            "spark.cpu_util": cpu / (wall * cpus) if wall > 0 else 0.0,
            "spark.gc_ms": sum(j["gc_ms"] for j in js),
            "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
            "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in js),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in js),
            "spark.peak_exec_mem_mb": max([j["peak_exec_mem"] for j in js] or [0]) / 2**20,
        }

    per_cycle = [spark_of(units) for units in cycles.values()]
    out = {k: median([c[k] for c in per_cycle]) if per_cycle else 0.0
           for k in spark_of([])}
    out["spark.empty_job_ms"] = empty

    def span_ms(name):
        return [s["dur_ms"] for s in spans if s["traced"] and s["ok"] and s["name"] == name]

    profiles = [s for s in spans if s["traced"] and s["ok"] and s["name"] == "profile"]
    for p in PASSES:
        out[f"profiler.pass.{p}_ms"] = median(
            [s["attrs"]["times_ms"].get(p, 0) for s in profiles]) if profiles else 0.0
    out["profiler.pass.rest_ms"] = median(
        [s["dur_ms"] - sum(s["attrs"]["times_ms"].values()) for s in profiles]
    ) if profiles else 0.0
    for name in ("profile", "merge", "codec_encode", "codec_decode", "gate",
                 "diff", "report"):
        xs = span_ms(name)
        out[f"profiler.{name}_ms"] = median(xs) if xs else 0.0
    sizes = [s["attrs"]["bytes"] for s in spans
             if s["traced"] and s["ok"] and s["name"] == "codec_encode"]
    out["profiler.state_bytes"] = median(sizes) if sizes else 0.0

    query_s = {}
    for q, module in QUERIES.items():
        units = [s for c in cycles.values() for s in c if s["attrs"].get("query") == q]
        if units:
            query_s[q] = median([u["dur_ms"] for u in units]) / 1000.0
        out[f"ops.{module}.{q}_s"] = query_s.get(q, 0.0)
        out[f"ops.{module}.{q}.jobs"] = median([len(jobs_of[u["id"]]) for u in units]) \
            if units else 0.0
    out["ops.query_geomean_s"] = geomean(list(query_s.values())) if query_s else 0.0

    summaries = [e["stream"] for e in raw["extras"].values() if "stream" in e]
    for key in ("batches", "state_rows", "max_batch_ms"):
        out[f"stream.{key}"] = median([s[key] for s in summaries]) if summaries else 0.0
    out["jvm.rss_peak_mb"] = raw["vm_hwm_kb"] / 1024.0

    plain = workload_unit(unit_times(raw, traced=False), workload)
    traced = workload_unit(unit_times(raw, traced=True), workload)
    out["trace.plain_unit_ms"] = plain
    out["trace.traced_unit_ms"] = traced
    out["trace.overhead"] = traced / plain if plain > 0 else 0.0
    out["trace.unattributed_jobs"] = unattributed
    return out


PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_rows": "count", "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_mb": "MB",
    "spark.cpu_util": "ratio", "profiler.state_bytes": "bytes",
    "stream.batches": "count", "stream.state_rows": "count",
    "trace.overhead": "ratio", "trace.unattributed_jobs": "count",
    "jvm.rss_peak_mb": "MB",
}


def unit_of(name):
    if name in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[name]
    if name.endswith(".jobs"):
        return "count"
    if name.endswith("_s"):
        return "s"
    return "ms"


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       timeout=800)
    lines = [l for l in r.stdout.splitlines()
             if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, main, args, timeout):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    # Spark's SPARK_LOCAL_DIRS would override spark.local.dir: pin both here
    env = dict(os.environ, SPARK_GRAFT_STAGE_DIR=os.path.join(WORK, "stage"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: {main} exited with {r.returncode}")


def ensure_data(cp):
    """Write the input tables once per version of the generator."""
    data = os.path.join(WORK, "data")
    with open(os.path.join(BENCH, "src", "main", "scala", "perfbench",
                           "DataGen.scala"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    marker = os.path.join(data, ".done")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return data
    log("writing the input tables")
    os.makedirs(data, exist_ok=True)
    java(cp, "perfbench.DataGen", [data], timeout=600)
    with open(marker, "w") as f:
        f.write(stamp)
    return data


def nproc():
    out = subprocess.run(["nproc"], stdout=subprocess.PIPE, text=True).stdout.strip()
    try:
        return int(out)
    except ValueError:
        raise SystemExit(f"perfbench: nproc printed {out!r}, not a core count")


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; "
                             "run from the root of a full checkout")
    cpus = nproc()
    for d in ("tmp", "stage", "results", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)
    data = ensure_data(cp)

    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    raw_file = os.path.join(WORK, "results", tag + ".raw.json")
    if os.path.exists(raw_file):
        os.remove(raw_file)
    launch_ms = time.time() * 1000.0
    java(cp, "perfbench.Main",
         ["--workload", a.workload, "--seed", str(a.seed),
          "--seconds", str(a.seconds), "--trace", str(a.trace),
          "--cpus", str(cpus), "--data", data, "--work", WORK,
          "--expected", os.path.join(BENCH, "expected.json"),
          "--out", raw_file],
         timeout=RUN_TIMEOUT_S)
    with open(raw_file) as f:
        raw = json.load(f)
    raw["cpus"] = cpus

    units = top_spans(raw)
    failed_units = {f["unit"] for f in raw["failures"]}
    # the set-up's untimed full-size call counts as one attempted call
    attempted = len(units) + 1
    failed = len(failed_units)
    for f in raw["failures"]:
        log(f"check failed (unit {f['unit']}): {f['message'][:500]}")
    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(raw, a.workload).items()}
        if metrics["trace.unattributed_jobs"][0]:
            failed += 1
            log("self-check failed: some jobs fall inside no span")
    else:
        metrics = end_to_end(raw, launch_ms, a.workload)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    samples = [ms for c in unit_times(raw, traced=False).values() for _, ms in c]
    tail = highest_percentile(samples)
    record = dict(result, unit_samples=len(samples), unit_tail_ms=(
        {"percentile": tail[0], "value": tail[1]} if tail else None), provenance={
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "cpus": cpus, "data": "perfbench/.work/data",
        "git_head": git_head(), "source_sha256": stamp,
        "spark_version": raw["spark_version"], "java_version": raw["java_version"],
    }, error_rate=failed / attempted)
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, m in sorted(result["metrics"].items()):
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
