"""Load generator: a process of its own that feeds seeded dnstap frames to
the program's unix socket over the framestream protocol.

    python3 perfbench/lib/gen.py --seed N --pool agg|fresh --frames N --pool-file PATH

It builds its frame pool before any timing, writes the pool to
`--pool-file`, prints one JSON line describing it (hash, ground truth),
then reads commands from stdin, one JSON object a line, and answers each
with one JSON line:

    {"cmd": "saturate", "sock": S, "conns": C, "seconds": T, "frames": N}
        every connection cycles through the pool from its own start frame,
        as fast as the socket accepts, for T seconds or until about N frames
        (optional) are out;
    {"cmd": "schedule", "sock": S, "rate": R, "frames": N, "start": F}
        open loop on one connection, pool frames F, F+1, ...: the i-th is
        due at t0 + i/R;
    {"cmd": "drain", "seconds": T}
        the generator's own ceiling: the pool into a socket whose reader
        discards everything;
    {"cmd": "exit"}
        waits for every connection's FINISH and reports it.
"""
import argparse
import json
import os
import resource
import selectors
import socket
import sys
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import frames  # noqa: E402

CONTENT_TYPE = b"protobuf:dnstap.Dnstap"
ACCEPT, START, STOP, READY, FINISH = 1, 2, 3, 4, 5
CHUNK = 1 << 18


def control(ctype, content_type=False):
    body = ctype.to_bytes(4, "big")
    if content_type:
        body += (1).to_bytes(4, "big") + len(CONTENT_TYPE).to_bytes(4, "big") + CONTENT_TYPE
    return b"\x00\x00\x00\x00" + len(body).to_bytes(4, "big") + body


def read_control(sock):
    def exact(n):
        buf = b""
        while len(buf) < n:
            part = sock.recv(n - len(buf))
            if not part:
                raise EOFError("peer closed")
            buf += part
        return buf
    assert exact(4) == b"\x00\x00\x00\x00"
    body = exact(int.from_bytes(exact(4), "big"))
    return int.from_bytes(body[:4], "big")


def connect(path, timeout=10):
    # the listener's socket file appears at bind, a moment before it
    # listens: retry a refused connection until the timeout
    deadline = time.time() + timeout
    while True:
        s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            s.connect(path)
            break
        except ConnectionRefusedError:
            s.close()
            if time.time() > deadline:
                raise
            time.sleep(0.01)
    s.sendall(control(READY, True))
    if read_control(s) != ACCEPT:
        raise RuntimeError("no ACCEPT")
    s.sendall(control(START))
    return s


def cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class Cursor:
    """Position of one connection in the endlessly repeated pool stream."""

    def __init__(self, pool, start_frame):
        self.pool = pool
        self.view = memoryview(pool.stream)
        self.size = len(pool.stream)
        self.start_frame = start_frame
        self.pos = int(pool.ends[start_frame - 1]) if start_frame else 0
        self.abs0 = self.pos
        self.abs = self.pos

    def frames_done(self):
        """Whole frames sent since the start."""
        def upto(a):
            cyc, off = divmod(a, self.size)
            return cyc * self.pool.n + int(np.searchsorted(self.pool.ends, off, "right"))
        return upto(self.abs) - upto(self.abs0)

    def chunk(self, limit=CHUNK):
        return self.view[self.pos:min(self.size, self.pos + limit)]

    def byte_len(self, q):
        """Bytes of the next `q` frames from the start frame, cyclically."""
        def before(i):
            return int(self.pool.ends[i - 1]) if i else 0
        full, rem = divmod(q, self.pool.n)
        s = self.start_frame
        if s + rem <= self.pool.n:
            part = before(s + rem) - before(s)
        else:
            part = self.size - before(s) + before(s + rem - self.pool.n)
        return full * self.size + part

    def advance(self, n):
        self.abs += n
        self.pos = (self.pos + n) % self.size

    def to_frame_end(self):
        """Bytes left in the frame currently being written."""
        if self.pos == 0:
            return self.view[0:0]
        i = int(np.searchsorted(self.pool.ends, self.pos, "left"))
        return self.view[self.pos:int(self.pool.ends[i])]


class Generator:
    def __init__(self, pool):
        self.pool = pool
        self.open = []

    def saturate(self, sock, conns, seconds, frames=None):
        socks = [connect(sock) for _ in range(conns)]
        cursors = [Cursor(self.pool, c * self.pool.n // conns) for c in range(conns)]
        # with a frame quota, each connection stops exactly at its share
        limits = [cur.abs0 + cur.byte_len(frames // conns + (c < frames % conns))
                  if frames is not None else None for c, cur in enumerate(cursors)]
        sel = selectors.DefaultSelector()
        for i, s in enumerate(socks):
            s.setblocking(False)
            sel.register(s, selectors.EVENT_WRITE, i)
        c0 = cpu_s()
        t0 = time.time()
        t_end = t0 + seconds
        log = []  # (time, frames sent on all connections)
        while time.time() < t_end and sel.get_map():
            for key, _ in sel.select(timeout=0.05):
                i = key.data
                cur = cursors[i]
                room = CHUNK if limits[i] is None else min(CHUNK, limits[i] - cur.abs)
                try:
                    cur.advance(key.fileobj.send(cur.chunk(room)))
                except BlockingIOError:
                    continue
                if limits[i] is not None and cur.abs >= limits[i]:
                    sel.unregister(key.fileobj)
            log.append((time.time(), sum(c.frames_done() for c in cursors)))
        t1 = time.time()
        sel.close()
        for s, cur in zip(socks, cursors):
            s.setblocking(True)
            tail = cur.to_frame_end()
            s.sendall(tail)
            cur.advance(len(tail))
            s.sendall(control(STOP))
        self.open += socks
        sent = [c.frames_done() for c in cursors]
        truth = [self.pool.truth_for_range(c.start_frame, n) for c, n in zip(cursors, sent)]
        return {"t0": t0, "t1": t1, "sent": sum(sent), "per_conn": sent,
                "truth_query_rows": sum(t[0] for t in truth),
                "truth_nonok_rows": sum(t[1] for t in truth),
                "cpu_s": cpu_s() - c0, "log": log[::max(1, len(log) // 2000)]}

    def schedule(self, sock, rate, frames, start=0):
        s = connect(sock)
        view = memoryview(self.pool.stream)
        ends = self.pool.ends
        c0 = cpu_s()
        t0 = time.time() + 0.05
        sent = 0
        late = []  # per write: (frames in it, lateness of its first frame in ms)
        while sent < frames:
            now = time.time()
            due = min(frames, int((now - t0) * rate) + 1)
            if due > sent:
                lo = int(ends[start + sent - 1]) if start + sent else 0
                s.sendall(view[lo:int(ends[start + due - 1])])
                late.append((due - sent, (time.time() - (t0 + sent / rate)) * 1e3))
                sent = due
            else:
                time.sleep(min(0.001, t0 + sent / rate - now))
        t1 = time.time()
        s.sendall(control(STOP))
        self.open.append(s)
        q, nonok = self.pool.truth_for_range(start, sent)
        return {"t0": t0, "t1": t1, "rate": rate, "sent": sent, "truth_query_rows": q,
                "truth_nonok_rows": nonok, "cpu_s": cpu_s() - c0, "late": late}

    def drain(self, seconds):
        a, b = socket.socketpair(socket.AF_UNIX, socket.SOCK_STREAM)

        def discard():
            buf = bytearray(1 << 20)
            while b.recv_into(buf):
                pass
        th = threading.Thread(target=discard, daemon=True)
        th.start()
        cur = Cursor(self.pool, 0)
        t0 = time.time()
        while time.time() - t0 < seconds:
            cur.advance(a.send(cur.chunk(1 << 20)))
        t1 = time.time()
        a.close()
        th.join()
        b.close()
        return {"frames": cur.frames_done(), "seconds": t1 - t0,
                "max_fps": cur.frames_done() / (t1 - t0)}

    def finish(self, timeout=120):
        ok = True
        for s in self.open:
            s.settimeout(timeout)
            try:
                ok = read_control(s) == FINISH and ok
            except (OSError, EOFError):
                ok = False
            s.close()
        self.open = []
        return {"finish_ok": ok}


def build(kind, seed, n):
    return (frames.build_agg_pool if kind == "agg" else frames.build_fresh_pool)(seed, n)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pool", choices=["agg", "fresh"], required=True)
    ap.add_argument("--frames", type=int, required=True)
    ap.add_argument("--pool-file")
    a = ap.parse_args()
    t = time.time()
    pool = build(a.pool, a.seed, a.frames)
    if a.pool_file:
        with open(a.pool_file, "wb") as f:
            f.write(pool.stream)
    damaged = np.bincount(pool.damage[pool.damage >= 0], minlength=len(frames.DAMAGE_CLASSES))
    print(json.dumps({"pool_sha256": pool.sha256(), "frames": pool.n, "bytes": len(pool.stream),
                      "build_s": time.time() - t,
                      "damaged": dict(zip(frames.DAMAGE_CLASSES, damaged.tolist())),
                      "query_rows": int(pool.prefix_query[-1]),
                      "nonok_rows": int(pool.prefix_nonok[-1])}), flush=True)
    gen = Generator(pool)
    for line in sys.stdin:
        cmd = json.loads(line)
        c = cmd.pop("cmd")
        if c == "exit":
            print(json.dumps(gen.finish()), flush=True)
            return
        print(json.dumps(getattr(gen, c)(**cmd)), flush=True)


if __name__ == "__main__":
    main()
