#!/usr/bin/env python3
"""Ingest-path benchmark of the graft engine.

    python3 perfbench/run.py --workload live_2s --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's JVM driver from source (first run in a
checkout; output under .bench_build/), generates the workload's inputs from
the seed, runs it through the program's public entry points, checks the
program's outputs, and prints two JSON lines: a full report (every metric by
name with its unit, every check, the sample counts) and, last, the result
line {"correct", "attempted", "failed", "metrics"}.  A failed check is named
on stderr and makes the exit code 1; a run that cannot be made exits 2
without a result line.

Workloads (BENCHMARK.json says why each was chosen):
  live_2s   open loop at 100 frames/s, 2 s trigger, dashboard reader polling
  burst_2s  open loop at 1000 frames/s, 10 % re-deliveries, a ?since=
            overlap re-delivered on connect, retention on every trigger
  gates     one closed-loop client over six write-path gate queries

Latency is measured from when the generator was due to send a frame to the
end of the trigger that committed it (frames map to triggers through the
source's frame offsets in the query progress); for `gates` the unit of work
is one pass over the six queries.

--trace 1 also runs the workload traced (spans around every call into a
layer, with Spark job, stage and task events attached) and prints the
per-layer metrics and the tracing overhead against the untraced run made
just before it; for `burst_2s` it adds a traced local[1] run as the
single-threaded baseline.  Spans go to .bench_build/traces/.

The metrics reported, their names and units, are the ones BENCHMARK.json
lists.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from gen import Schedule, SseServer, Stream, backlog_start, iso  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CORES = 4
HEAP = "2g"

WORKLOADS = {
    # rate: frames/s offered open loop; warm_s: leading seconds excluded
    # from the window; seed_frames: history frames (at hist_rate) ingested
    # into the sink at set-up; overlap_s: history seconds before ?since=
    # the generator re-delivers first; db_max: retention cap N
    "live_2s": dict(kind="live", rate=100.0, warm_s=4, seed_frames=24000,
                    hist_rate=100.0, overlap_s=0, dup=0.0, db_max=100000,
                    retention=False, dashboard=True),
    "burst_2s": dict(kind="burst", rate=1000.0, warm_s=4, seed_frames=13500,
                     hist_rate=1000.0, overlap_s=2, dup=0.10, db_max=8000,
                     retention=True, dashboard=False),
    # sf: scale of the timed passes; warm_sf: scale of the untimed
    # warm-up pass; data_seed: fixed, so the pinned results below hold
    "gates": dict(kind="gates", sf=0.01, warm_sf=0.001, data_seed=42),
}
# set-up repetitions per run; the first (cold JVM) is left out of setup_s
SETUP_REPS = {"ingest": 6, "gates": 4}

# The gate queries, in pass order, each with the row count and
# order-independent hash of its result on the generated sf0.01 tables (data
# seed 42).
GATE_PINS = {
    "q194_scd2_dimension": (150, 315801643645),
    "q200_erasure_certificate": (8, 19057485323),
    "q114_entity_clusters": (1, 1055566551),
    "q217_maintenance_plan": (6, 14734830740),
    "q182_join_view_rewrite": (3, 3434817591),
    "q168_salted_plan_join": (2, 5008503699),
}

class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the driver; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise BenchError("no program sources next to perfbench/ "
                         "(build.sbt and src/main are required)")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    digest = sources_digest()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=%s" % repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=800, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("build failed (sbt exit %d)" % proc.returncode)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, run_dir, props, timeout):
    """Run the driver on `props`; return its result.json."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    conf = run_dir / "run.properties"
    conf.write_text("".join("%s=%s\n" % (k, str(v).replace("\\", "\\\\"))
                            for k, v in props.items()))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=%s" % (run_dir / "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Driver", str(conf)]
    with open(run_dir / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("driver timed out after %d s" % timeout)
    res_file = run_dir / "result.json"
    if not res_file.is_file():
        raise BenchError("driver exited %d without a result; log tail:\n%s" % (
            proc.returncode, (run_dir / "jvm.log").read_text()[-3000:]))
    res = json.loads(res_file.read_text())
    if not res.get("ok"):
        raise BenchError("driver failed: %s" % res.get("error"))
    return res


def read_jsonl(path):
    if not path.is_file():
        return []
    return [json.loads(l) for l in path.read_text().splitlines() if l.strip()]


def write_lines(path, lines):
    with open(path, "w") as f:
        for l in lines:
            f.write(l)
            f.write("\n")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- ingest

def run_ingest(name, seed, seconds, cp, run_dir, trace, cores):
    P = WORKLOADS[name]
    rate, H = P["rate"], P["seed_frames"]
    stream = Stream(seed, dup_frac=P["dup"], dup_window=int(rate * 3))
    # the history ends now; the sink is seeded with it at set-up
    hist = Schedule(time.time() - H / P["hist_rate"], P["hist_rate"], 0, H)
    write_lines(run_dir / "seed.jsonl", (stream.data(k, hist) for k in range(H)))
    seed_keys = stream.expected_keys(range(H), hist)
    newest = max(k[0] for k in seed_keys)
    frames = int(rate * (P["warm_s"] + seconds))
    server = SseServer(stream, total=frames, rate=rate, k0=H,
                       history=hist if P["overlap_s"] else None,
                       overlap_s=P["overlap_s"])
    overlap_lo = backlog_start(hist, newest - P["overlap_s"])
    prefix = H - overlap_lo if P["overlap_s"] else 0
    props = dict(workload=P["kind"], cores=cores, trace=str(trace).lower(),
                 runDir=run_dir, dbMaxEvents=P["db_max"],
                 setupReps=SETUP_REPS["ingest"],
                 dashboard=str(P["dashboard"]).lower(),
                 seedFile=run_dir / "seed.jsonl", url=server.url,
                 frames=prefix + frames,
                 timeoutMs=int(1000 * (seconds * 6 + 60)))
    server.start()
    try:
        res = run_jvm(cp, run_dir, props, timeout=seconds * 8 + 120)
    finally:
        server.stop()
    if server.error:
        raise BenchError("generator failed: %s" % server.error)

    checks = {"sse.single_connection": server.connects == 1,
              "S3.since_is_newest_sink_event": server.since == iso(newest),
              "sse.overlap_prefix": server.prefix == prefix}
    progress = read_jsonl(run_dir / "progress.jsonl")
    for p in progress:
        p["end_time"] = p["end_ms"] / 1000.0
    triggers = stats.triggers_from_progress(progress)

    # ---- latency: due time -> end of the trigger that committed the frame
    t_conn = server.connect_time
    first = prefix + int(rate * P["warm_s"])
    window = range(first, prefix + frames)
    due = lambda f: t_conn + (f - prefix) / rate  # noqa: E731
    commits = stats.commit_times(list(window), triggers)
    lat = [c - due(f) for f, c in zip(window, commits) if c is not None]
    lost = sum(1 for c in commits if c is None)
    checks["stream.all_frames_committed"] = lost == 0
    if not lat:
        raise BenchError("no frame of the window was committed")
    tail_p, tail_v = stats.tail(lat)
    # committed frames per second over whole trigger intervals inside the
    # window (the last trigger only drains the schedule's tail): the
    # offered rate while the pipeline keeps up, less once it falls behind
    done = [t for t in triggers
            if t[2] >= due(first) and t[1] < prefix + frames]
    if len(done) < 2:
        raise BenchError("fewer than two triggers committed in the window")
    throughput = (done[-1][1] - done[0][1]) / (done[-1][2] - done[0][2])

    # ---- correctness: D1 exactly-once, retention survivors, overlap
    consumed = max((t[1] for t in triggers), default=0) - prefix
    live = Schedule(t_conn, rate, H, frames)
    expected = seed_keys | stream.expected_keys(range(H, H + consumed), live)
    overlap = len(stream.expected_keys(range(overlap_lo, H), hist)) if prefix else 0
    sink_rows = []
    with open(run_dir / "keys.tsv") as f:
        for line in f:
            ts, user, title = line.rstrip("\n").split("\t")
            sink_rows.append((int(ts), user, title))
    sink = set(sink_rows)
    checks["D1.no_duplicate_keys"] = len(sink) == len(sink_rows)
    # the sink's row count after each trigger: a drop to N + 1 is a
    # retention replace; otherwise the growth is the rows appended, and
    # rows the stream emitted beyond it were dropped by the sink anti-join.
    # A replace hides its trigger's append, so drops are counted only in
    # the triggers before the first replace, and the ?since= overlap must
    # be consumed by then.  The listener reads the row count after the
    # trigger, off the query thread; every trigger commits at least one
    # sink version, so a read made before the next trigger's commit shows
    # a lower version than that trigger's read.
    batches = sorted(progress, key=lambda p: p["batch"])
    replaces, dropped, counted_end, read_in_order = 0, 0, 0, True
    prev = res["seed_rows"]
    for p, nxt in zip(batches, batches[1:] + [None]):
        grew = p["sink_rows"] - prev
        if p["sink_rows"] == P["db_max"] + 1 and grew < p["state_updated"]:
            replaces += 1
        elif not replaces:
            dropped += p["state_updated"] - grew
            counted_end = max(counted_end, p["end_offset"])
            if nxt is not None:
                read_in_order &= p["sink_version"] < nxt["sink_version"]
        prev = p["sink_rows"]
    checks["sink.row_read_before_next_commit"] = read_in_order
    checks["sink.final_rows_match_last_trigger"] = prev == res["row_count"]
    if replaces:
        # R1/F6: the survivors are the newest M of the expected set, with
        # M between N + 1 and the 1.1 N cleanup threshold
        order = sorted(expected, key=lambda k: (-k[0], k[1], k[2]))
        m = len(sink_rows)
        checks["R1.survivors_are_newest"] = sink == set(order[:m])
        checks["R1.row_count_in_band"] = P["db_max"] + 1 <= m < 1.1 * P["db_max"]
    else:
        checks["D1.no_lost_keys"] = not (expected - sink)
        checks["D1.no_extra_keys"] = not (sink - expected)
    checks["R1.fires_as_configured"] = (replaces > 0) == P["retention"]
    checks["D1.overlap_dropped_by_sink"] = dropped == overlap
    if prefix:
        checks["sink.overlap_consumed_before_retention"] = counted_end >= prefix

    # ---- backlog: frames written by the generator but not yet consumed
    wp = [p for p in progress if p["end_offset"] > first]
    lags = [server.sent_by(p["end_time"]) - p["end_offset"] for p in wp]
    lag_t = [p["end_time"] for p in wp]
    if lags and cores > 1:
        checks["sse.backlog_not_growing"] = lags[-1] - lags[0] <= 4 * rate

    # ---- generator lateness (validity of the open loop)
    late = [(at - due(f)) * 1000.0 for before, n, at in server.sends
            for f in range(max(before, first), before + n)]
    checks["gen.on_schedule"] = bool(late) and stats.percentile(late, 99) < 250

    dur = lambda k: [p["duration_ms"].get(k, 0) for p in wp]  # noqa: E731
    polls = [d for d in read_jsonl(run_dir / "dash.jsonl")
             if d["start_ms"] / 1000.0 >= due(first)]
    poll_s = [(d["end_ms"] - d["start_ms"]) / 1000.0 for d in polls if d["ok"]]
    failed_polls = sum(1 for d in polls if not d["ok"])
    typed = sum(p["rows_typed"] for p in progress)
    read_frames = sum(p["end_offset"] - p["start_offset"] for p in progress)
    layer = {
        "sse.tail_ms": median(dur("latestOffset")),
        "sse.lag_frames_max": max(lags) if lags else 0,
        "sse.lag_slope": stats.slope(lag_t, lags),
        "gen.late_ms_p99": stats.percentile(late, 99) if late else 0.0,
        "ingest.typed_ratio": typed / read_frames if read_frames else 0.0,
        "ingest.rows_per_s": res.get("ingest_rows_per_s", 0.0),
        "stream.plan_ms": median(dur("queryPlanning")),
        "stream.wal_ms": median(dur("walCommit")),
        "stream.trigger_ms": median(dur("triggerExecution")),
        "stream.state_rows": max((p["state_rows"] for p in wp), default=0),
        "stream.state_bytes": max((p["state_bytes"] for p in wp), default=0),
        "sink.call_ms": median(dur("addBatch")),
        "sink.files": res["data_files"],
        "sink.replaces": replaces,
        "sink.overlap_dropped": dropped,
        "sink.disk_bytes_per_row": res["disk_bytes"] / max(1, res["row_count"]),
        "dash.p50_s": median(poll_s),
        "dash.p90_s": stats.percentile(poll_s, 90) if poll_s else 0.0,
        "failed_frac": (lost + failed_polls) / (len(window) + len(polls)),
        "latency_tail_pct": tail_p,
    }
    if trace:
        spans = json.loads((run_dir / "spans.json").read_text())
        calls = [s for s in spans if s["name"] == "appendWithRetentionManifest"]
        in_window = [s for s in calls if s["start_ms"] / 1000.0 >= due(first)]
        written = sum(s.get("output_bytes", 0) for s in calls)
        layer.update({
            "sink.call_ms": median([s["end_ms"] - s["start_ms"] for s in in_window]),
            "sink.jobs": median([s.get("jobs", 0) for s in in_window]),
            "sink.bytes_written": written,
            # every expected key beyond the seed was appended once (D1)
            "sink.write_amp": written / (
                (len(expected) - res["seed_rows"]) * layer["sink.disk_bytes_per_row"]),
        })
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def total(s, k):
            return s.get(k, 0) + sum(total(c, k) for c in kids.get(s["id"], []))
        polls_traced = [s for s in spans if s["name"] == "dashboard.poll"]
        if polls_traced:
            layer["dash.jobs"] = median([total(s, "jobs") for s in polls_traced])
            layer["dash.input_bytes"] = median(
                [total(s, "input_bytes") for s in polls_traced])
    e2e = {
        "setup_s": median(res["setup_s"][1:]),
        "latency_p50_s": stats.percentile(lat, 50),
        "latency_tail_s": tail_v,
        "throughput_per_s": throughput,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    return dict(e2e=e2e, layer=layer, checks=checks,
                attempted=len(window) + len(polls), failed=lost + failed_polls,
                samples=dict(latency=len(lat), triggers=len(wp),
                             dash_polls=len(polls), setup=len(res["setup_s"]) - 1),
                extra=dict(seed_rows=res["seed_rows"], rows=res["row_count"],
                           overlap_rows=overlap, prefix_frames=prefix,
                           frames=frames))


# -------------------------------------------------------------- gates

def run_gates(name, seed, seconds, cp, run_dir, trace, cores):
    P = WORKLOADS[name]
    props = dict(workload="gates", cores=cores, trace=str(trace).lower(),
                 runDir=run_dir, seconds=seconds, sf=P["sf"],
                 warmSf=P["warm_sf"], dataSeed=P["data_seed"],
                 setupReps=SETUP_REPS["gates"])
    res = run_jvm(cp, run_dir, props, timeout=170)
    passes = res["passes"]
    checks = {}
    failed = 0
    for q in GATE_PINS:
        runs = [x for p in passes for x in p["queries"] if x["name"] == q]
        failed += sum(1 for x in runs if not x["ok"])
        checks["gates.%s" % q] = all(
            x["ok"] and (x["rows"], x["hash"]) == GATE_PINS[q] for x in runs)
    pass_s = [p["seconds"] for p in passes]
    tail_p, tail_v = stats.tail(pass_s)
    layer = {"gates.pass_s": median(pass_s), "latency_tail_pct": tail_p,
             "gates.warm_pass_s": res["warm_pass_s"],
             "failed_frac": failed / (len(GATE_PINS) * len(passes))}
    if trace:
        # every counter of each query's spans, as <query prefix>.<counter>
        spans = json.loads((run_dir / "spans.json").read_text())
        for q in GATE_PINS:
            qs = [s for s in spans if s["name"] == q]
            counters = {k for s in qs for k, v in s.items()
                        if isinstance(v, (int, float))
                        and k not in ("id", "parent", "start_ms", "end_ms")}
            for k in counters:
                layer["%s.%s" % (q.split("_")[0], k)] = median(
                    [s.get(k, 0) for s in qs])
    e2e = {
        "setup_s": median(res["setup_s"][1:]),
        "latency_p50_s": median(pass_s),
        "latency_tail_s": tail_v,
        "throughput_per_s": len(GATE_PINS) * len(passes) / sum(pass_s),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    return dict(e2e=e2e, layer=layer, checks=checks,
                attempted=len(GATE_PINS) * len(passes), failed=failed,
                samples=dict(passes=len(passes), setup=len(res["setup_s"]) - 1),
                extra={})


# --------------------------------------------------------------- main

def run_once(name, seed, seconds, cp, trace, cores=CORES, tag=""):
    run_dir = BUILD / "runs" / ("%s-s%d%s-%d" % (name, seed, tag, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    fn = run_gates if WORKLOADS[name]["kind"] == "gates" else run_ingest
    try:
        out = fn(name, seed, seconds, cp, run_dir, trace, cores)
        if trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(run_dir / "spans.json",
                        traces / ("%s-seed%d%s.spans.json" % (name, seed, tag)))
        return out
    finally:
        logs = BUILD / "logs"
        logs.mkdir(exist_ok=True)
        if (run_dir / "jvm.log").is_file():
            shutil.copy(run_dir / "jvm.log",
                        logs / ("%s-seed%d%s.log" % (name, seed, tag)))
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        cp = build()
        out = run_once(a.workload, a.seed, a.seconds, cp, trace=False)
        if a.trace:
            traced = run_once(a.workload, a.seed, a.seconds, cp, trace=True,
                              tag="-traced")
            # tracing overhead, read on the workload's median latency
            traced["layer"]["trace.overhead_pct"] = 100.0 * (
                traced["e2e"]["latency_p50_s"] / out["e2e"]["latency_p50_s"] - 1)
            if a.workload == "burst_2s":
                # the single-threaded baseline of the same stream job
                single = run_once(a.workload, a.seed, a.seconds, cp,
                                  trace=True, cores=1, tag="-local1")
                t1 = single["e2e"]["throughput_per_s"]
                traced["layer"]["scaling.local1_throughput_per_s"] = t1
                traced["layer"]["scaling.speedup"] = (
                    traced["e2e"]["throughput_per_s"] / t1)
                traced["layer"]["scaling.local1_latency_p50_s"] = (
                    single["e2e"]["latency_p50_s"])
            traced["checks"].update({"untraced." + k: v
                                     for k, v in out["checks"].items()})
            out = traced
    except BenchError as e:
        sys.stderr.write("[perfbench] %s\n" % e)
        return 2
    correct = all(out["checks"].values())
    for k, ok in sorted(out["checks"].items()):
        if not ok:
            sys.stderr.write("[perfbench] CHECK FAILED: %s\n" % k)
    full = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "correct": correct, "checks": out["checks"],
        "samples": out["samples"], "extra": out["extra"],
        "end_to_end": {m["name"]: {"value": out["e2e"][m["name"]],
                                   "unit": m["unit"]}
                       for m in spec["end_to_end"]},
        "per_layer": {m["name"]: {"value": out["layer"].get(m["name"], 0),
                                  "unit": m["unit"]}
                      for m in spec["per_layer"]},
    }
    print(json.dumps(full))
    chosen = full["per_layer"] if a.trace else full["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": chosen}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
