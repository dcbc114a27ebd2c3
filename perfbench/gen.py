"""Seeded input generator. The same seed gives byte-identical files.

Inputs vary what the pipeline's behaviour depends on: 0-5 detections per
frame, confidences spread around the 0.5 threshold, about 1 % malformed
payloads and one publishing source that is not configured.
"""
import datetime
import json
import os
import random

INSTANCE = "processor-bench"
THRESHOLD = 0.5
N_SOURCES = 12                     # publishing sources, 1 frame/s each
CONFIGURED = list(range(1, N_SOURCES))
UNCONFIGURED = N_SOURCES           # publishes, but is not in the config
MALFORMED_SHARE = 0.01
SPOOL_LINES = 256                  # MqttBridge's QoS-0 spool-file size
BACKLOG_EPOCH_MS = 1767225600000   # 2026-01-01T00:00:00Z
COMMANDS = ["status", "ping", "metrics"]
CMD_PERIOD_MS = 10000
CMD_OFFSETS_MS = (2000, 4000, 6000)
QUEUED = ["status", "ping"]        # commands waiting in a backlog
CLASSES = ["person", "car", "truck", "bicycle", "dog", "bus"]
TS = "@TS@"                        # replaced by the due time at publish
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def schedule(n_sources, fps, seconds):
    """Due times of an open loop: every source emits `fps` frames per second,
    the sources staggered evenly inside each frame interval. Returns
    (due_ms, source_index, frame_seq) sorted by due time."""
    period_ms = 1000.0 / fps
    out = []
    seq = 0
    while True:
        row = [(round((seq + i / n_sources) * period_ms), i, seq)
               for i in range(n_sources)]
        row = [r for r in row if r[0] < seconds * 1000]
        if not row:
            return sorted(out)
        out.extend(row)
        seq += 1


def source_id(index):
    return CONFIGURED[index] if index < len(CONFIGURED) else UNCONFIGURED


def frame(rng, sid, fid, ts):
    """One event: (envelope line, metadata). The payload's `timestamp` is
    `ts` (the due time, or the TS placeholder for live publishing)."""
    dets = []
    for _ in range(rng.randint(0, 5)):
        det = {"class_name": rng.choice(CLASSES),
               "confidence": round(rng.uniform(0.3, 0.7), 2),
               "bbox": {"x": round(rng.uniform(0, 640), 1),
                        "y": round(rng.uniform(0, 480), 1),
                        "width": round(rng.uniform(8, 200), 1),
                        "height": round(rng.uniform(8, 200), 1)}}
        if rng.random() < 0.7:
            det["tracker_id"] = rng.randint(1, 500)
        dets.append(det)
    payload = json.dumps({
        "instance_id": INSTANCE, "source_id": sid, "frame_id": fid,
        "timestamp": ts, "model_id": "yolov8x-640",
        "inference_time_ms": round(rng.uniform(20, 80), 1),
        "detections": dets, "fps": 1.0,
        "latency_ms": round(rng.uniform(40, 160), 1)},
        separators=(",", ":"))
    malformed = rng.random() < MALFORMED_SHARE
    if malformed:
        payload = payload[: len(payload) // 2]
    meta = {"sid": sid, "fid": fid,
            "expected": sid in CONFIGURED and not malformed,
            "n_pass": sum(d["confidence"] >= THRESHOLD for d in dets)}
    return "nvr/detections/%d\t%s" % (sid, payload), meta


def command(name):
    return json.dumps({"command": name, "params": {}, "target_instances": []},
                      separators=(",", ":"))


def events(seed, sched, ts_of):
    rng = random.Random(seed)
    out = []
    for due, index, seq in sched:
        sid = source_id(index)
        line, meta = frame(rng, sid, seq + 1, ts_of(due))
        meta["due"] = due
        out.append((line, meta))
    return out


def iso(ms):
    t = EPOCH + datetime.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (ms % 1000)


def warmup_inputs(out_dir):
    """One valid event and one command, processed during set-up so that
    every query's first batch runs before timing."""
    d = os.path.join(out_dir, "warmup")
    for sub in ("events", "control"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    sid = CONFIGURED[0]
    payload = json.dumps({
        "instance_id": INSTANCE, "source_id": sid, "frame_id": 0,
        "timestamp": iso(BACKLOG_EPOCH_MS), "model_id": "yolov8x-640",
        "inference_time_ms": 30.0,
        "detections": [{"class_name": "person", "confidence": 0.9,
                        "bbox": {"x": 1.0, "y": 2.0, "width": 3.0, "height": 4.0}}],
        "fps": 1.0, "latency_ms": 50.0}, separators=(",", ":"))
    with open(os.path.join(d, "events", "mqtt-warmup.txt"), "w") as f:
        f.write("nvr/detections/%d\t%s" % (sid, payload))
    with open(os.path.join(d, "control", "cmd-warmup.json"), "w") as f:
        f.write(command("ping"))
    return ({"sid": sid, "fid": 0, "expected": True, "n_pass": 1, "due": None},
            {"name": "ping", "due": None})


def live_inputs(seed, seconds, out_dir):
    """Open-loop schedule for the live design point: events.tsv lines are
    `due_ms TAB topic TAB payload`, commands.tsv lines `due_ms TAB json`.
    Commands fall at CMD_OFFSETS_MS of every CMD_PERIOD_MS; the load starts
    1 s after a tick of the 10 s metrics-lite trigger, so they land between
    its batches."""
    os.makedirs(out_dir, exist_ok=True)
    evs = events(seed, schedule(N_SOURCES, 1.0, seconds), lambda due: TS)
    with open(os.path.join(out_dir, "events.tsv"), "w", newline="\n") as f:
        for line, meta in evs:
            f.write("%d\t%s\n" % (meta["due"], line))
    dues = [p + o for p in range(0, seconds * 1000, CMD_PERIOD_MS)
            for o in CMD_OFFSETS_MS if p + o < seconds * 1000]
    cmds = [{"name": COMMANDS[i % len(COMMANDS)], "due": due}
            for i, due in enumerate(dues)]
    with open(os.path.join(out_dir, "commands.tsv"), "w", newline="\n") as f:
        for c in cmds:
            f.write("%d\t%s\n" % (c["due"], command(c["name"])))
    return [m for _, m in evs], cmds


def backlog_inputs(seed, n_events, out_dir):
    """A backlog left by an outage, in the bridge's spool-file format
    (SPOOL_LINES lines per file), plus the commands that queued with it."""
    per_source = -(-n_events // N_SOURCES)
    sched = schedule(N_SOURCES, 1.0, per_source)[:n_events]
    evs = events(seed, sched, lambda due: iso(BACKLOG_EPOCH_MS + due))
    spool = os.path.join(out_dir, "events")
    os.makedirs(spool, exist_ok=True)
    for n in range(0, len(evs), SPOOL_LINES):
        chunk = [line for line, _ in evs[n:n + SPOOL_LINES]]
        with open(os.path.join(spool, "mqtt-%012d.txt" % (n // SPOOL_LINES)),
                  "w", newline="\n") as f:
            f.write("\n".join(chunk))
    control = os.path.join(out_dir, "control")
    os.makedirs(control, exist_ok=True)
    cmds = []
    for i, name in enumerate(QUEUED):
        with open(os.path.join(control, "cmd-%05d.json" % i), "w") as f:
            f.write(command(name))
        cmds.append({"name": name, "due": 0})
    return [m for _, m in evs], cmds
