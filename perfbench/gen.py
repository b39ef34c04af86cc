#!/usr/bin/env python3
"""Load generator for the station workload: one process, one TCP
connection per device, seeded, open loop.

It plays the devices: it listens on one local port per device, and the
engine's `graft-socket` source connects to it. Usage (run.py does this):

    python3 perfbench/gen.py --seed 1 --seconds 20 --plan PLAN.json --report REPORT.json

`--plan` is written as soon as the ports are bound (ports and line
counts per device). On connect each device sends a short warm-up prefix,
so the engine's first data batch, which pays its one-time
initialization, happens before the load is timed. The schedule starts
when a line `go` arrives on stdin, and `--report` is written when stdin
reaches end of file. The report holds, per device, the expected packs
(SHA-1 of their rows, as the harness computes it from the sink, and when
the pack's last line was due), the injected malformed-line counts and
how late the generator ran.

Every scheduled line is due at a fixed instant from the schedule start
and carries that instant (epoch ms) as its creation time `c`; warm-up
lines carry their connect instant. The sender never waits for the
engine: sockets are non-blocking and unsent bytes queue locally.
"""
import argparse
import hashlib
import json
import os
import random
import socket
import sys
import time

SONIC_PACK = 12000
PROBE_PACK = 18
PROBE_LEVELS = 4
SONICS = ("S1", "S2", "S3")
PROBE = "PR"
# share of lines the parser must drop: no regex match, and a capture
# that fails its cast (the whole record is killed)
BAD_REGEX = 0.01
BAD_CAST = 0.005
# scheduled rates, lines per second: per sonic, and for the probe
SONIC_RATE = 650
PROBE_RATE = 200
# warm-up prefix, lines per device
WARMUP_LINES = 100


def now_ms():
    return time.time() * 1000.0


def fixed3(i):
    """Milli-units as a signed fixed-point field, e.g. -1234 -> -001.234."""
    a = abs(i)
    return "%s%03d.%03d" % ("-" if i < 0 else "+", a // 1000, a % 1000)


class Device:
    def __init__(self, name, sonic, rate, seconds, seed):
        self.name = name
        self.sonic = sonic
        self.rate = rate
        self.pack = SONIC_PACK if sonic else PROBE_PACK
        self.lines = WARMUP_LINES + rate * seconds
        rng = random.Random("%d/%s" % (seed, name))
        # (kind, key, values) per line; kind 0 valid, 1 no regex match,
        # 2 cast failure; the first line after connect is always valid
        self.rows = []
        for i in range(self.lines):
            r = rng.random()
            kind = 0 if i == 0 or r >= BAD_REGEX + BAD_CAST else (1 if r < BAD_REGEX else 2)
            if sonic:
                vals = (rng.randint(-20000, 20000), rng.randint(-20000, 20000),
                        rng.randint(-5000, 5000), rng.randint(-5000, 35000))
                key = name
            else:
                vals = (rng.randint(0, 100000), rng.randint(-10000, 40000))
                key = str(rng.randint(1, PROBE_LEVELS))
            self.rows.append((kind, key, vals))
        self.server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(1)
        self.port = self.server.getsockname()[1]
        self.conn = None
        self.due = [0.0] * self.lines
        self.t0 = None
        self.sent_lines = 0
        self.lag_ms_max = 0.0
        self.buf = bytearray()
        self.queued = 0   # bytes queued so far
        self.sent = 0     # bytes handed to the kernel so far
        self.marks = []   # (queued bytes after line i, i), in order
        self.head = 0

    def line(self, i):
        kind, key, v = self.rows[i]
        c = int(self.due[i])
        if self.sonic:
            if kind == 1:
                return "E%02d sonic fault\n" % (i % 100)
            u = ("ZZZ" if kind == 2 else "") + fixed3(v[0])
            return "u= %s v= %s w= %s t= %s c= %d\n" % (
                u, fixed3(v[1]), fixed3(v[2]), fixed3(v[3]), c)
        if kind == 1:
            return "%02d RH= ERR\n" % int(key)
        rh = ("ZZZ" if kind == 2 else "") + fixed3(v[0])
        return "%02d RH= %s %%RH T= %s 'C c= %d\n" % (int(key), rh, fixed3(v[1]), c)

    def queue(self, i):
        b = self.line(i).encode("ascii")
        self.buf += b
        self.queued += len(b)
        self.marks.append((self.queued, i))

    def flush(self):
        """Send what the kernel takes now; record lateness of whole lines."""
        if self.buf:
            try:
                n = self.conn.send(self.buf)
            except BlockingIOError:
                n = 0
            del self.buf[:n]
            self.sent += n
        t = now_ms()
        while self.head < len(self.marks) and self.marks[self.head][0] <= self.sent:
            i = self.marks[self.head][1]
            if i >= WARMUP_LINES:
                self.lag_ms_max = max(self.lag_ms_max, t - self.due[i])
            self.sent_lines = i + 1
            self.head += 1

    def expected(self):
        """Packs the engine must commit: key -> [[sha1, last_due_ms], ...]."""
        per_key = {}
        for i, (kind, key, v) in enumerate(self.rows):
            if kind == 0:
                per_key.setdefault(key, []).append(i)
        out = {}
        for key, idx in per_key.items():
            packs = []
            for p in range(len(idx) // self.pack):
                chunk = idx[p * self.pack:(p + 1) * self.pack]
                text = "\n".join(",".join(str(x) for x in self.rows[i][2] + (int(self.due[i]),))
                                 for i in chunk)
                packs.append([hashlib.sha1(text.encode()).hexdigest(), self.due[chunk[-1]]])
            out[key] = packs
        return out

    def report(self):
        return {
            "name": self.name, "pack": self.pack, "lines": self.lines,
            "warmup_lines": WARMUP_LINES, "first_due_ms": self.t0,
            "last_due_ms": self.due[-1],
            "sent_lines": self.sent_lines, "lag_ms_max": self.lag_ms_max,
            "regex_bad": sum(1 for r in self.rows if r[0] == 1),
            "cast_bad": sum(1 for r in self.rows if r[0] == 2),
            "packs": self.expected(),
        }


def connect(devices, timeout_s):
    """Accept each device's connection and send its warm-up prefix."""
    deadline = time.time() + timeout_s
    for d in devices:
        d.server.settimeout(max(0.1, deadline - time.time()))
        d.conn, _ = d.server.accept()
        d.conn.setblocking(False)
        t = now_ms()
        for i in range(WARMUP_LINES):
            d.due[i] = t
            d.queue(i)
        d.flush()


def paced(devices):
    """Open-loop schedule: line i is due at t0 + (i - warm-up) / rate."""
    t0 = now_ms() + 100.0
    for d in devices:
        d.t0 = t0
        for i in range(WARMUP_LINES, d.lines):
            d.due[i] = t0 + (i - WARMUP_LINES) * 1000.0 / d.rate
    nxt = [WARMUP_LINES] * len(devices)
    while True:
        t = now_ms()
        for k, d in enumerate(devices):
            while nxt[k] < d.lines and d.due[nxt[k]] <= t:
                d.queue(nxt[k])
                nxt[k] += 1
            d.flush()
        pending = [d.due[nxt[k]] for k, d in enumerate(devices) if nxt[k] < d.lines]
        if not pending and not any(d.buf for d in devices):
            return
        wait = (min(pending) - now_ms()) / 1000.0 if pending else 0.0
        if any(d.buf for d in devices):
            wait = min(wait, 0.002)
        if wait > 0:
            time.sleep(min(wait, 0.05))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    devices = [Device(n, True, SONIC_RATE, a.seconds, a.seed) for n in SONICS] + \
              [Device(PROBE, False, PROBE_RATE, a.seconds, a.seed)]
    tmp = a.plan + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"devices": [{"name": d.name, "port": d.port, "sonic": d.sonic,
                                "pack": d.pack, "lines": d.lines,
                                "warmup_lines": WARMUP_LINES} for d in devices]}, f)
    os.replace(tmp, a.plan)

    connect(devices, 120)
    if sys.stdin.readline().strip() == "go":
        paced(devices)
        # hold the connections open (a silent healthy device) until told to stop
        sys.stdin.read()
    for d in devices:
        for s in (d.conn, d.server):
            if s is not None:
                s.close()
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"devices": [d.report() for d in devices]}, f)
    os.replace(tmp, a.report)


if __name__ == "__main__":
    main()
