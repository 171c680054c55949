#!/usr/bin/env python3
"""Open-loop record generator for the control_stream workload.

A single-threaded process, separate from the Spark JVM. It appends
records to shard files on a fixed schedule that does not slow when the
engine slows; every record carries its due time, which is also its
event time. The schedule is a pure function of the seed and the phase
parameters, so run.py rebuilds it to score the run.

Record lines:
  F,<target>,<due ms>,<hex payload>   8-channel frame, 16-byte payload
  C,<due ms>,<json command line>      serial command

Phases, in the order they are written:
  warm-up  the backlog's mix from a stream of its own, written to a
           shard directory of its own; an untimed query drains it first,
           so the timed query runs on compiled code (not scored)
  backlog  written before the query starts (catch-up from trim_horizon)
  nominal  fixed rate, after the engine has drained the backlog
  peak     twice the nominal rate
  settle   frames only, longer than the longest command TTL, so every
           override from the earlier phases has expired in event time
  tail     one frame, then one long-TTL command, for every target; the
           final telemetry state is checked against these exactly

Usage (run.py starts it):
  gen.py --seed N --seconds S --run-dir DIR
"""
import argparse
import json
import os
import random
import struct
import sys
import time

TARGETS = 2000
SHARDS = 4
NOMINAL_RPS = 150
PEAK_RPS = 300
BACKLOG = 10000
WARM = 12000
TTL_MS = (1000, 2000)
SETTLE_MS = TTL_MS[1] + 500
TAIL_TTL_MS = 600000
TAIL_SPAN_MS = 250
COMMAND_SHARE = 0.1


def shard_of(target):
    """Partition key to shard, as a Kinesis producer would hash it: all of
    a target's records land on one shard, in due-time order."""
    return target % SHARDS


def _frame_hex(channels):
    return struct.pack("<8H", *channels).hex()


def _frame(rng, target, due, bad_ok=True):
    channels = [rng.randint(1000, 2000) for _ in range(8)]
    payload = _frame_hex(channels)
    kind = "frame"
    if bad_ok:
        r = rng.random()
        if r < 0.01:  # short packet: fails the 16-byte length guard
            payload, kind = payload[:28], "dead"
        elif r < 0.015:  # not hex at all
            payload, kind = "zz" + payload[2:], "dead"
    return kind, target, f"F,{target},{due},{payload}", channels


def _command_json(target, channels, duration):
    return json.dumps({"command": "override_channels", "target_id": target,
                       "channels": channels, "duration": duration},
                      separators=(",", ":"))


def _command(rng, target, due):
    channels = [-1 if rng.random() < 0.25 else rng.randint(1000, 2000)
                for _ in range(8)]
    duration = rng.randint(*TTL_MS)
    r = rng.random()
    kind = "command"
    if r < 0.05:  # valid JSON, out-of-range value: the engine's error path
        channels[rng.randrange(8)] = rng.choice([999, 2001, 2500])
        kind = "invalid"
    line = _command_json(target, channels, duration)
    if 0.05 <= r < 0.1:  # truncated JSON: the parser's dead-letter path
        line, kind = line[: len(line) // 2], "dead"
    return kind, target, f"C,{due},{line}", channels


def schedule(seed, seconds, backlog_end_ms, live_start_ms):
    """Every record of a run, in write order, as dicts with keys
    phase, kind, target, shard, seq, due and line; each tail command also
    carries `expect`, its target's exact final channels. Due times are
    integer epoch ms."""
    rng = random.Random(seed)
    ranked = list(range(1, TARGETS + 1))
    rng.shuffle(ranked)
    # skewed fleet: Zipf-like weights over a seeded ranking of targets
    cum, acc = [], 0.0
    for i in range(TARGETS):
        acc += 1.0 / (i + 1) ** 1.1
        cum.append(acc)

    def pick():
        return rng.choices(ranked, cum_weights=cum)[0]

    out = []

    def emit(phase, due, frames_only=False):
        target = pick()
        if not frames_only and rng.random() < COMMAND_SHARE:
            kind, t, line, ch = _command(rng, target, due)
        else:
            kind, t, line, ch = _frame(rng, target, due)
        out.append({"phase": phase, "kind": kind, "target": t, "due": due, "line": line})

    span = BACKLOG / NOMINAL_RPS * 1000.0
    for i in range(BACKLOG):
        emit("backlog", int(backlog_end_ms - span + i * 1000.0 / NOMINAL_RPS))
    half = seconds * 500.0
    t = 0.0
    for phase, rate, length, frames_only in (
            ("nominal", NOMINAL_RPS, half, False),
            ("peak", PEAK_RPS, half, False),
            ("settle", NOMINAL_RPS, SETTLE_MS, True)):
        n = int(length * rate / 1000.0)
        for i in range(n):
            emit(phase, int(live_start_ms + t + i * 1000.0 / rate), frames_only)
        t += length
    tail_frames, tail_commands = [], []
    for target in range(1, TARGETS + 1):
        due = int(live_start_ms + t + (target - 1) * TAIL_SPAN_MS / TARGETS)
        _, _, line, frame = _frame(rng, target, due, bad_ok=False)
        tail_frames.append({"phase": "tail", "kind": "frame", "target": target,
                            "due": due, "line": line})
        channels = [rng.randint(1000, 2000) for _ in range(8)]
        for k in rng.sample(range(8), 2):
            channels[k] = -1
        cdue = due + TAIL_SPAN_MS + 50
        tail_commands.append({
            "phase": "tail", "kind": "command", "target": target, "due": cdue,
            "line": f"C,{cdue},{_command_json(target, channels, TAIL_TTL_MS)}",
            "expect": [c if c != -1 else f for c, f in zip(channels, frame)]})
    out += tail_frames + tail_commands
    seqs = [0] * SHARDS
    for r in out:
        r["shard"] = shard_of(r["target"])
        r["seq"] = seqs[r["shard"]]
        seqs[r["shard"]] += 1
    return out


def warmup(seed, end_ms):
    """The warm-up query's records, due at the nominal rate up to end_ms:
    frames and commands in the backlog's proportions, uniform over the
    fleet, drawn from their own seeded stream so the scored schedule does
    not depend on them."""
    rng = random.Random(f"warm-{seed}")
    out = []
    for i in range(WARM):
        target = rng.randint(1, TARGETS)
        due = int(end_ms - (WARM - i) * 1000.0 / NOMINAL_RPS)
        make = _command if rng.random() < COMMAND_SHARE else _frame
        out.append({"shard": shard_of(target), "line": make(rng, target, due)[2]})
    return out


def _open_shards(shard_dir):
    os.makedirs(shard_dir, exist_ok=True)
    return [os.open(os.path.join(shard_dir, f"shard-{s}.shard"),
                    os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            for s in range(SHARDS)]


def _append(fds, batch):
    chunks = {}
    for r in batch:
        chunks.setdefault(r["shard"], []).append(r["line"] + "\n")
    for shard, lines in chunks.items():
        os.write(fds[shard], "".join(lines).encode())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args()
    backlog_end = int(time.time() * 1000)
    warm_fds = _open_shards(os.path.join(a.run_dir, "shards-warm"))
    _append(warm_fds, warmup(a.seed, backlog_end))
    for fd in warm_fds:
        os.close(fd)
    _mark(a.run_dir, "warm.done", WARM)
    fds = _open_shards(os.path.join(a.run_dir, "shards"))
    # the live phases start when the engine has drained the backlog; their
    # due times are offsets from that moment, so schedule them at offset 0
    # first and shift once the start is known
    recs = schedule(a.seed, a.seconds, backlog_end, 0)
    backlog = [r for r in recs if r["phase"] == "backlog"]
    live = [r for r in recs if r["phase"] != "backlog"]
    _append(fds, backlog)
    _mark(a.run_dir, "backlog.done", len(backlog))

    caught_up = os.path.join(a.run_dir, "caught_up")
    while not os.path.exists(caught_up):
        time.sleep(0.002)
    live_start = int(time.time() * 1000)
    lags = []
    i = 0
    while i < len(live):
        now = time.time() * 1000
        j = i
        while j < len(live) and live_start + live[j]["due"] <= now:
            j += 1
        if j > i:
            batch = live[i:j]
            for r in batch:
                r["line"] = _shift(r["line"], live_start)
            _append(fds, batch)
            written = time.time() * 1000
            lags += [written - (live_start + r["due"]) for r in batch
                     if r["phase"] in ("nominal", "peak")]
            i = j
        else:
            time.sleep(min(0.002, max(0.0, (live_start + live[i]["due"] - now) / 1000)))
    for fd in fds:
        os.close(fd)
    lags.sort()
    with open(os.path.join(a.run_dir, "gen.json"), "w") as f:
        json.dump({"backlog_end_ms": backlog_end, "live_start_ms": live_start,
                   "lag_p99_ms": lags[min(len(lags) - 1, int(0.99 * len(lags)))] if lags else 0.0,
                   "lag_max_ms": lags[-1] if lags else 0.0}, f)
    _mark(a.run_dir, "gen.done", len(recs))
    return 0


def _mark(run_dir, name, count):
    """Publish a record count to the JVM as a marker file, atomically."""
    with open(os.path.join(run_dir, name + ".tmp"), "w") as f:
        f.write(str(count))
    os.rename(os.path.join(run_dir, name + ".tmp"), os.path.join(run_dir, name))


def _shift(line, start):
    """Rewrite a live record's due offset into an epoch-ms due time."""
    if line[0] == "F":
        kind, target, due, rest = line.split(",", 3)
        return f"{kind},{target},{int(due) + start},{rest}"
    kind, due, rest = line.split(",", 2)
    return f"{kind},{int(due) + start},{rest}"


if __name__ == "__main__":
    sys.exit(main())
