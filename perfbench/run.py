#!/usr/bin/env python3
"""graft's streaming benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload live_design --seed 1 --seconds 22 --trace 0

Builds graft and the harness from source (see build.py), generates the
seeded inputs (gen.py), runs the harness (src/Harness.scala) in one JVM
at local[N] with N = min(4, available cores), then reconstructs every
commit time from the queries' checkpoint offset, source and commit logs
and checks the sinks against the generator's expected outputs.

The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A correctness
failure prints the line with "correct": false and exits 1; a build or
harness failure prints no line and exits 2.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import urllib.parse

import build
import gen
import stats

WORKLOADS = ("live_design", "drain_backlog")
BACKLOG_EVENTS = 12000
HARNESS_TIMEOUT_S = 150
QUERIES = ("pipeline", "wall", "metrics_lite", "control")
LAYERS = ("io.bus", "stream.pipeline", "stream.wall", "stream.metrics_lite",
          "control", "spark")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")


class HarnessError(Exception):
    pass


# ---------------------------------------------------------------- raw files

def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def read_kv(path):
    kv = {}
    for k, v in read_tsv(path):
        kv.setdefault(k, []).append(v)
    return kv


def mtime_ms(path):
    return os.stat(path).st_mtime_ns / 1e6


def base(path):
    return os.path.basename(urllib.parse.unquote(path))


def numbered(d):
    """Files of a checkpoint log directory by batch id."""
    if not os.path.isdir(d):
        return {}
    return {int(n): os.path.join(d, n) for n in os.listdir(d) if n.isdigit()}


def commit_times(ckq):
    return {b: mtime_ms(p) for b, p in numbered(os.path.join(ckq, "commits")).items()}


def bus_batches(ckq):
    """Spool file -> pipeline batch, from the graft-bus offsets (each offset
    is the set of consumed files, so a batch's files are the difference
    with the previous batch's offset)."""
    out, prev = {}, set()
    for b, p in sorted(numbered(os.path.join(ckq, "offsets")).items()):
        with open(p) as f:
            lines = f.read().splitlines()
        files = {base(e[0]) for e in json.loads(lines[2])["files"]}
        for name in files - prev:
            out.setdefault(name, b)
        prev = files
    return out


def file_source_batches(ckq):
    """Input file -> batch, from a file-stream source log (plain and
    compacted entries)."""
    out = {}
    d = os.path.join(ckq, "sources", "0")
    for p in glob.glob(os.path.join(d, "*")):
        if p.endswith(".crc") or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out.setdefault(base(e["path"]), e["batchId"])
    return out


def spool_index(events_dir):
    """(source_id, frame_id) -> spool file name, for parseable lines."""
    out = {}
    for p in sorted(glob.glob(os.path.join(events_dir, "mqtt-*.txt"))):
        name = os.path.basename(p)
        with open(p) as f:
            for line in f.read().split("\n"):
                try:
                    e = json.loads(line.split("\t", 1)[1])
                    out[(e["source_id"], e["frame_id"])] = name
                except (ValueError, KeyError, IndexError):
                    pass
    return out


# ---------------------------------------------------------------- analysis

def analyse_round(run, kv, tag, events, cmds, ack_log, live):
    """Correctness and latencies of one round of the engine."""
    rdir = os.path.join(run, tag)
    ck = kv[tag + ".ck"][0]
    events_dir = kv[tag + ".events"][0]
    start = float(kv["gen.t0_ms" if live else tag + ".start_ms"][0])
    end = float("inf") if live else float(kv[tag + ".end_ms"][0])

    spool = spool_index(events_dir)
    p_batch = bus_batches(os.path.join(ck, "pipeline"))
    p_commit = commit_times(os.path.join(ck, "pipeline"))
    w_batch = file_source_batches(os.path.join(ck, "wall"))
    w_commit = commit_times(os.path.join(ck, "wall"))

    rows = read_tsv(os.path.join(rdir, "detections.tsv"))
    got = {}
    wrong = dups = 0
    expected = {(e["sid"], e["fid"]): e for e in events if e["expected"]}
    for f, sid, fid, ndet, minconf in rows:
        key = (int(sid), int(fid))
        if key in got:
            dups += 1
        got[key] = base(f)
        e = expected.get(key)
        if e is not None and (int(ndet) != e["n_pass"] or
                              float(minconf) < gen.THRESHOLD):
            wrong += 1
    missing = [k for k in expected if k not in got]
    extra = [k for k in got if k not in expected]

    latest = {}
    for (sid, fid) in expected:
        latest[sid] = max(latest.get(sid, 0), fid)
    tiles = {int(s): int(f) for s, f in read_tsv(os.path.join(rdir, "tiles.tsv"))}
    tile_bad = sum(tiles.get(s) != f for s, f in latest.items()) + \
        sum(s not in latest for s in tiles)

    acks = read_tsv(os.path.join(rdir, "acks.tsv"))
    ack_bad = sum(1 for _, st in acks if st == "error")
    for name in set(c["name"] for c in cmds):
        want = sum(c["name"] == name for c in cmds)
        for st in ("received", "completed"):
            have = sum(a == [name, st] for a in acks)
            ack_bad += abs(want - have)

    # latencies, from the due time to the commit that made the row visible
    lat, tile_lat, visible, hold, wall_lag = [], [], [], [], []
    p_done = w_done = None
    for key, e in expected.items():
        if key not in got or e["due"] is None:
            continue
        due = start + e["due"] if live else start
        pb = p_batch.get(spool.get(key))
        wb = w_batch.get(got[key])
        if pb is None or pb not in p_commit or wb is None or wb not in w_commit:
            raise HarnessError("no commit found for event %s" % (key,))
        pc, wc = p_commit[pb], w_commit[wb]
        lat.append(pc - due)
        tile_lat.append(wc - due)
        wall_lag.append(wc - pc)
        mt = mtime_ms(os.path.join(events_dir, spool[key]))
        visible.append(pc - (mt if live else start))
        if live:
            hold.append(mt - due)
        p_done = pc if p_done is None else max(p_done, pc)
        w_done = wc if w_done is None else max(w_done, wc)
    first_due = start + min(e["due"] for e in expected.values()
                            if e["due"] is not None) if live else start

    # ACK latency: the i-th completed ACK of the round answers its i-th command
    completed = [(c, float(t)) for c, st, t in ack_log
                 if st == "completed" and start - 1 <= float(t) <= end]
    ack_lat = []
    for i, c in enumerate(c for c in cmds if c["due"] is not None):
        if i >= len(completed) or completed[i][0] != c["name"]:
            ack_bad += 1
            continue
        landed = mtime_ms(os.path.join(rdir, "control", "cmd-%05d.json" % i)) \
            if live else start
        ack_lat.append(completed[i][1] - landed)

    failed = len(missing) + len(extra) + dups + wrong + tile_bad + ack_bad
    if failed:
        sys.stderr.write("[%s] missing=%d extra=%d dups=%d wrong=%d tiles=%d acks=%d\n"
                         % (tag, len(missing), len(extra), dups, wrong, tile_bad, ack_bad))
    for name, sample in (("latency", lat), ("tile latency", tile_lat)):
        if (stats.tail_percentile(len(sample)) or 0) < 95:
            raise HarnessError("%s: %d samples are too few for a p95" % (name, len(sample)))
    n_valid = len(lat)
    return {
        "attempted": len(events) + len(cmds), "failed": failed,
        "latency_p50_ms": stats.pct(lat, 50), "latency_p95_ms": stats.pct(lat, 95),
        "tile_latency_p50_ms": stats.pct(tile_lat, 50),
        "tile_latency_p95_ms": stats.pct(tile_lat, 95),
        "ack_latency_p50_ms": stats.pct(ack_lat, 50) if ack_lat else None,
        "drain_eps": n_valid / ((p_done - first_due) / 1000.0),
        "wall_drain_eps": n_valid / ((w_done - first_due) / 1000.0),
        "visible": visible, "hold": hold, "wall_lag": wall_lag,
        "spool_files": len(set(spool.values())),
    }


def end_to_end(kv, rounds):
    def med(k):
        vals = [r[k] for r in rounds if r[k] is not None]
        if not vals:
            raise HarnessError("no samples for " + k)
        return stats.median(vals)
    m = {"setup_s": (float(kv["setup_s"][0]), "s"),
         "peak_rss_mb": (float(kv["rss_hwm_kb"][0]) / 1024.0, "MB")}
    for k in ("latency_p50_ms", "latency_p95_ms", "tile_latency_p50_ms",
              "tile_latency_p95_ms", "ack_latency_p50_ms"):
        m[k] = (med(k), "ms")
    m["drain_eps"] = (med("drain_eps"), "1/s")
    m["wall_drain_eps"] = (med("wall_drain_eps"), "1/s")
    return m


def per_layer(run, kv, rounds, workload, cores, speedup):
    """Per-layer split from the traced run's spans and listener records."""
    qids = {}          # query id -> name, for the measured rounds only
    for name, qid, tag in read_tsv(os.path.join(run, "queries.tsv")):
        if tag.startswith("round") and tag != "round-1":
            qids[qid] = name
    n_rounds = len(rounds)
    m = {}

    def p(vals, q):
        return stats.pct(vals, q) if vals else 0.0

    lag = [float(r[1]) for r in read_tsv(os.path.join(run, "gen_lag.tsv"))]
    m["gen.lag_ms.max"] = (max(lag) if lag else 0.0, "ms")
    hold = [x for r in rounds for x in r["hold"]]
    m["bus.hold_ms.p50"] = (p(hold, 50), "ms")
    m["bus.hold_ms.p95"] = (p(hold, 95), "ms")
    m["bus.spool_files"] = (stats.median([r["spool_files"] for r in rounds]), "count")
    visible = [x for r in rounds for x in r["visible"]]
    m["stream.pipeline.visible_ms.p50"] = (p(visible, 50), "ms")
    m["stream.pipeline.visible_ms.p95"] = (p(visible, 95), "ms")
    wall_lag = [x for r in rounds for x in r["wall_lag"]]
    m["stream.wall.lag_ms.p50"] = (p(wall_lag, 50), "ms")
    m["stream.wall.lag_ms.p95"] = (p(wall_lag, 95), "ms")

    progress = {q: [] for q in QUERIES}
    spans = []
    for row in read_tsv(os.path.join(run, "progress.tsv")):
        name = qids.get(row[0])
        if name is None:
            continue
        rec = dict(zip(("batch", "ts", "trigger") + PHASES +
                       ("rows", "state_rows", "state_mem"), map(float, row[1:])))
        progress[name].append(rec)
        spans.append({"name": "stream.%s.trigger" % name,
                      "layer": "control" if name == "control" else "stream." + name,
                      "start": rec["ts"], "end": rec["ts"] + rec["trigger"],
                      "req": "%s:%d" % (name, rec["batch"])})
    jobs = {q: 0 for q in QUERIES}
    job_ms = {q: 0.0 for q in QUERIES}
    for qid, batch, _, start, end in read_tsv(os.path.join(run, "jobs.tsv")):
        name = qids.get(qid)
        if name is None or not batch or float(end) <= 0:
            continue
        jobs[name] += 1
        job_ms[name] += float(end) - float(start)
        spans.append({"name": "spark.job", "layer": "spark", "start": float(start),
                      "end": float(end), "req": "%s:%s" % (name, batch)})
    for name, layer, start, end, req in read_tsv(os.path.join(run, "spans.tsv")):
        spans.append({"name": name, "layer": layer, "start": float(start) / 1000,
                      "end": float(end) / 1000, "req": req})
    for q in QUERIES:
        recs = progress[q]
        pre = "stream.%s." % q
        m[pre + "batches"] = (len(recs) / n_rounds, "count")
        m[pre + "rows_per_batch.p50"] = (p([r["rows"] for r in recs], 50), "count")
        m[pre + "trigger_ms.p50"] = (p([r["trigger"] for r in recs], 50), "ms")
        m[pre + "trigger_ms.p95"] = (p([r["trigger"] for r in recs], 95), "ms")
        for ph in PHASES:
            m[pre + ph + "_ms.p50"] = (p([r[ph] for r in recs], 50), "ms")
        m[pre + "addBatch_ms.p95"] = (p([r["addBatch"] for r in recs], 95), "ms")
        m[pre + "jobs_per_batch"] = (jobs[q] / len(recs) if recs else 0.0, "count")
        m[pre + "job_ms"] = (job_ms[q] / n_rounds, "ms")
    lite = progress["metrics_lite"]
    m["stream.metrics_lite.state_rows"] = (max([r["state_rows"] for r in lite] or [0]), "count")
    m["stream.metrics_lite.state_mem_mb"] = (
        max([r["state_mem"] for r in lite] or [0]) / 1048576.0, "MB")

    cb = {}
    for kind, s, e in read_tsv(os.path.join(run, "callbacks.tsv")):
        cb.setdefault(kind, []).append(float(e) - float(s))
    for kind in ("metrics_request", "status_upsert", "ack_write"):
        m["control.%s_ms.p50" % kind] = (p(cb.get(kind, []), 50), "ms")

    def one(k):
        return float(kv[k][0])
    wall_s = (one("measure.end_ms") - one("measure.start_ms")) / 1000.0
    m["spark.jobs"] = (sum(jobs.values()) / n_rounds, "count")
    m["spark.stages"] = (one("stages") / n_rounds, "count")
    m["spark.tasks"] = (one("tasks") / n_rounds, "count")
    m["spark.task_busy_share"] = (one("task_run_ms") / 1000.0 / (cores * wall_s), "ratio")
    m["spark.shuffle_mb"] = (one("shuffle_bytes") / 1048576.0 / n_rounds, "MB")
    m["spark.gc_ms"] = (one("gc_ms") / n_rounds, "ms")
    m["spark.peak_heap_mb"] = (float(kv["peak_heap_mb"][0]), "MB")

    selfs = stats.layer_self_times(spans)
    for layer in LAYERS:
        m["layer.%s.self_ms" % layer] = (selfs.get(layer, 0.0) / n_rounds, "ms")
    m["trace.overhead_ms"] = (one("trace_self_ns") / 1e6, "ms")
    m["trace.spans"] = (len(spans), "count")
    m["drain.speedup_vs_1core"] = (speedup, "ratio")
    return m


def dominant(workload, m, e2e_traced):
    """One line naming the layer that dominates the workload's headline."""
    if workload == "live_design":
        split = {"io.bus": m["bus.hold_ms.p50"][0],
                 "stream.pipeline": m["stream.pipeline.visible_ms.p50"][0]}
        head = "latency_p50_ms"
    else:
        # the pipeline query's trigger time: its jobs against the rest
        split = {"stream.pipeline": m["layer.stream.pipeline.self_ms"][0],
                 "spark": m["stream.pipeline.job_ms"][0]}
        head = "drain_eps"
    top = max(split, key=split.get)
    return "dominant layer for %s (%.1f): %s; split %s" % (
        head, e2e_traced[head][0], top,
        ", ".join("%s=%.1f" % kv for kv in sorted(split.items())))


# ---------------------------------------------------------------- main

def run_harness(classes, run, workload, seconds, trace, cores):
    cmd = build.java_command(classes, run) + [
        "perfbench.Harness", "--workload", workload, "--dir", run,
        "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
        "--streams", ",".join(map(str, gen.CONFIGURED))]
    log = os.path.join(run, "harness.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise HarnessError("harness exited with %s:\n%s" % (code, tail))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bdir = os.path.join(build.ROOT, target, "perfbench")
    try:
        classes = build.build(bdir)
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2
    cores = min(4, len(os.sched_getaffinity(0)))
    run = os.path.join(bdir, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace,
                                                      os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    inputs = os.path.join(run, "inputs")
    live = a.workload == "live_design"
    try:
        if live:
            warm_event, warm_cmd = gen.warmup_inputs(inputs)
            events, cmds = gen.live_inputs(a.seed, a.seconds, inputs)
            events, cmds = [warm_event] + events, [warm_cmd] + cmds
        else:
            events, cmds = gen.backlog_inputs(a.seed, BACKLOG_EVENTS, inputs)
        run_harness(classes, run, a.workload, a.seconds, a.trace, cores)
        kv = read_kv(os.path.join(run, "kv.tsv"))
        ack_log = read_tsv(os.path.join(run, "ack_log.tsv"))
        tags = sorted((d for d in os.listdir(run) if d.startswith("round")
                       and d != "round-1"), key=lambda d: int(d[5:]))
        rounds = [analyse_round(run, kv, t, events, cmds, ack_log, live) for t in tags]
        extra = []
        if a.trace and not live:
            extra = [analyse_round(run, kv, "round-1", events, cmds, ack_log, live)]
        attempted = sum(r["attempted"] for r in rounds + extra)
        failed = sum(r["failed"] for r in rounds + extra)
        e2e = end_to_end(kv, rounds)
        if a.trace:
            speedup = (stats.median([r["drain_eps"] for r in rounds]) /
                       extra[0]["drain_eps"]) if extra else 0.0
            metrics = per_layer(run, kv, rounds, a.workload, cores, speedup)
            sys.stderr.write(dominant(a.workload, metrics, e2e) + "\n")
            sys.stderr.write("traced end-to-end: %s\n" % json.dumps(
                {k: round(v, 3) for k, (v, _) in e2e.items()}))
        else:
            metrics = e2e
    except HarnessError as e:
        sys.stderr.write("benchmark failed: %s\n" % e)
        return 2
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


def on_term(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    sys.exit(main(sys.argv[1:]))
