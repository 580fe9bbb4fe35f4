"""Load generator for the serve workloads: a separate process from the JVM
under test. It speaks HTTP/1.1 to the REST port and RFC 6455 to the ws port,
checks every response against the sim chain (chain.py), and prints one JSON
object as its last line.

    loadgen.py --mode read|live --rest PORT --ws PORT --seed N --seconds S
               --head H --rate R --clients C --open-rate Q [--trace-file F]

Protocol with run.py: after warm-up (and, in live mode, subscribing) it
prints `ARMED {...}`, then reads the measured phase's start (epoch ms) from
stdin. In read mode the measured phase is a closed loop of C clients that
runs whole seed-shuffled rounds of every arm until S seconds have passed. In live
mode the ws subscribers collect notifications of blocks H+1 .. H+floor(S*R)
(block n is due at t0 + (n - H) / R) while, with --open-rate Q > 0, an open
loop of reads at Q requests/s runs beside ingest. The store holds blocks
0..H when the phase starts.
"""
import argparse
import base64
import http.client
import json
import os
import random
import socket
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import chain  # noqa: E402

HOST = "127.0.0.1"
TIMEOUT_S = 30.0


class Client:
    """One persistent HTTP connection."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def send(self, method, path, body):
        payload = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if body is not None else {}
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection(HOST, self.port, timeout=TIMEOUT_S)
            try:
                self.conn.request(method, path, body=payload, headers=headers)
                resp = self.conn.getresponse()
                return resp.status, resp.read().decode()
            except (http.client.HTTPException, OSError):
                self.conn.close()
                self.conn = None
                if attempt:
                    raise


class Ops:
    """Thread-safe record of attempted operations and their outcomes."""

    def __init__(self):
        self.lock = threading.Lock()
        self.records = []
        self.failures = []

    def add(self, rec, error=None):
        with self.lock:
            self.records.append(rec)
            if error:
                self.failures.append(error)


def issue(client, req, ops, due, phase):
    arm, cls, method, path, body, check = req
    sent = time.time()
    error = None
    try:
        status, text = client.send(method, path, body)
        check(status, text)
    except chain.Mismatch as e:
        error = f"{arm}: {e} [{path}]"
    except Exception as e:  # timeouts and broken connections are failed ops too
        error = f"{arm}: {type(e).__name__} {e}"
    done = time.time()
    ops.add({"phase": phase, "arm": arm, "cls": cls, "due": due, "sent": sent, "done": done,
             "ok": error is None}, error)
    return done


def open_loop(port, reqs, rate, t0, workers, ops, phase):
    """Send reqs[i] at t0 + i/rate, on `workers` connections; a request whose
    worker is busy goes late, and its latency counts from its due time."""
    nxt = [0]
    lock = threading.Lock()

    def work():
        client = Client(port)
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                return
            due = t0 + i / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            issue(client, reqs[i], ops, due, phase)

    threads = [threading.Thread(target=work) for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def closed_loop(port, reqs, clients, round_len, end, ops, phase):
    """`clients` connections share the queue `reqs`, each sending its next
    request as soon as its last one is answered. No round of `round_len`
    requests starts after `end`, and a started round is finished."""
    nxt, lock = [0], threading.Lock()

    def work():
        client = Client(port)
        while True:
            with lock:
                i = nxt[0]
                if i >= len(reqs) or (i % round_len == 0 and time.time() >= end):
                    return
                nxt[0] += 1
            issue(client, reqs[i], ops, time.time(), phase)

    threads = [threading.Thread(target=work) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# ---- websocket subscriber ----------------------------------------------------

class Subscriber(threading.Thread):
    """One ws connection holding some subscriptions; records every message."""

    def __init__(self, port, names):
        super().__init__(daemon=True)
        self.sock = socket.create_connection((HOST, port), timeout=TIMEOUT_S)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall((f"GET /v1/ws HTTP/1.1\r\nHost: {HOST}:{port}\r\nUpgrade: websocket\r\n"
                           f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                           "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = self.sock.recv(1)
            if not chunk:
                raise ConnectionError("ws handshake closed")
            head += chunk
        if b" 101 " not in head.split(b"\r\n")[0]:
            raise ConnectionError(f"ws handshake refused: {head[:60]!r}")
        self.buf = b""
        self.messages = []  # (receipt time, text)
        self.closed = False
        for name in names:
            self._send(json.dumps({"name": name, "type": "subscribe"}))
            ack = json.loads(self._recv_text())
            if ack.get("code") != 1:
                raise ConnectionError(f"subscribe {name}: {ack}")

    def _send(self, text):
        data = text.encode()
        mask = os.urandom(4)
        n = len(data)
        header = bytes([0x81]) + (bytes([0x80 | n]) if n < 126 else bytes([0x80 | 126]) + struct.pack(">H", n))
        self.sock.sendall(header + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(data)))

    def _read(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("ws closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _recv_text(self):
        while True:
            b0, b1 = self._read(2)
            n = b1 & 0x7F
            if n == 126:
                n = struct.unpack(">H", self._read(2))[0]
            elif n == 127:
                n = struct.unpack(">Q", self._read(8))[0]
            payload = self._read(n)
            op = b0 & 0x0F
            if op == 0x1:
                return payload.decode()
            if op == 0x8:
                raise ConnectionError("ws close frame")

    def run(self):
        self.sock.settimeout(None)
        try:
            while True:
                text = self._recv_text()
                self.messages.append((time.time(), text))
        except (OSError, ConnectionError):
            self.closed = True

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass


def expected_deliveries(lo, hi, acct, topic):
    """Keys of the messages each subscription must receive, for blocks lo..hi."""
    want = {}
    for n in chain.present(lo, hi):
        want[("block", n)] = n
        for j in range(chain.tx_count(n)):
            if chain.tx_from(n, j) == acct:
                want[("transaction", chain.tx_hash(n, j))] = n
        for (j, i, _, topics) in chain.events(n):
            if topics and topics[0] == topic:
                want[("event", chain.block_hash(n), i)] = n
    return want


def message_key(text):
    d = json.loads(text)
    if "number" in d and "parenthash" in d:
        return ("block", d["number"])
    if "txhash" in d or "txHash" in d:
        return ("event", d.get("blockhash") or d.get("blockHash"), d["index"])
    return ("transaction", d["hash"])


# ---- main ----------------------------------------------------------------

def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latency_summary(recs):
    lat = [(r["done"] - r["due"]) * 1000 for r in recs if r["ok"]]
    late = [(r["sent"] - r["due"]) * 1000 for r in recs]
    out = {"n": len(recs), "p50_ms": pct(lat, 0.5), "p90_ms": pct(lat, 0.9),
           "gen_late_ms": pct(late, 0.5),
           "service_mean_ms": sum((r["done"] - r["sent"]) * 1000 for r in recs) / max(1, len(recs))}
    for cls in ("point", "range", "topk", "graphql"):
        cl = [(r["done"] - r["due"]) * 1000 for r in recs if r["ok"] and r["cls"] == cls]
        out[f"{cls}.n"] = len(cl)
        out[f"{cls}.p50_ms"] = pct(cl, 0.5)
        out[f"{cls}.p90_ms"] = pct(cl, 0.9)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["read", "live"], required=True)
    ap.add_argument("--rest", type=int, required=True)
    ap.add_argument("--ws", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--head", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--open-rate", type=float, default=0.0)
    ap.add_argument("--trace-file", default="")
    a = ap.parse_args()

    ops = Ops()
    head = a.head
    arms = chain.ALL_ARMS if a.mode == "read" else chain.LIVE_ARMS
    # warm-up: every arm once, on all clients, before anything is timed
    # (live mode without readers sends no requests at all)
    t_warm = time.time()
    if a.mode == "read" or a.open_rate > 0:
        warm = chain.schedule(a.seed + 1000003, len(arms), 0, head, arms)
        closed_loop(a.rest, warm, a.clients, len(arms), float("inf"), ops, "warmup")
    warm_s = time.time() - t_warm

    # the read loop's queue: seed-shuffled rounds of every arm, built before
    # the measured phase starts (a run that drains it ends early)
    rounds = [chain.schedule(a.seed * 1000 + k, len(arms), 0, head, arms) for k in range(8)] \
        if a.mode == "read" else []

    subs, want = [], {}
    acct, topic = chain.account(0), chain.sig(0)
    if a.mode == "live":
        subs = [Subscriber(a.ws, ["block", f"transaction/{acct}"]),
                Subscriber(a.ws, [f"event/*/{topic}"])]
        for s in subs:
            s.start()
    print("ARMED " + json.dumps({"warmup_s": warm_s}), flush=True)
    t0 = float(sys.stdin.readline()) / 1000.0

    result = {"warmup_s": warm_s}
    if a.mode == "read":
        # whole seed-shuffled rounds of every arm: each run sends the same
        # mix, only the keys differ
        reqs = [r for rnd in rounds for r in rnd]
        time.sleep(max(0.0, t0 - time.time()))
        closed_loop(a.rest, reqs, a.clients, len(arms), t0 + a.seconds, ops, "closed")
        closed = [r for r in ops.records if r["phase"] == "closed"]
        result["api_saturation_rps"] = sum(r["ok"] for r in closed) / (max(r["done"] for r in closed) - t0)
        result["rounds"] = len(closed) // len(arms)
        result["api"] = latency_summary(closed)
    else:
        stop_head = head + int(a.seconds * a.rate)
        want = expected_deliveries(head + 1, stop_head, acct, topic)
        # reads favour the newest blocks (the hot tier), all held since catch-up
        rng = random.Random(a.seed)
        n_reads = int(a.seconds * a.open_rate)
        reqs = [chain.make_request(rng, max(0, head - 199), head, arms) if rng.random() < 0.7
                else chain.make_request(rng, 0, head, arms) for _ in range(n_reads)]
        readers = threading.Thread(target=open_loop,
                                   args=(a.rest, reqs, a.open_rate or 1.0, t0, max(1, a.clients - len(subs)), ops, "open"))
        readers.start()
        # drain: the last block is due at t0 + seconds; allow slack for its batch
        deadline = t0 + a.seconds + 30.0
        while time.time() < deadline:
            got = sum(len(s.messages) for s in subs)
            if got >= len(want) and time.time() > t0 + a.seconds:
                break
            time.sleep(0.05)
        time.sleep(0.5)  # let any duplicate of the final batch arrive
        readers.join()
        seen, notify, dup, unexpected = set(), [], 0, 0
        for s in subs:
            s.close()
            for (t, text) in s.messages:
                key = message_key(text)
                if key not in want:
                    unexpected += 1
                elif key in seen:
                    dup += 1
                else:
                    seen.add(key)
                    n = want[key]
                    notify.append((t - (t0 + (n - head) / a.rate)) * 1000)
        missing = len(want) - len(seen)
        result["api"] = latency_summary([r for r in ops.records if r["phase"] == "open"])
        result["notify"] = {"expected": len(want), "received": len(seen), "missing": missing,
                            "duplicates": dup, "unexpected": unexpected,
                            "p50_ms": pct(notify, 0.5), "p90_ms": pct(notify, 0.9)}
        for _ in range(missing):
            ops.failures.append("ws: expected delivery missing")
        for _ in range(dup):
            ops.failures.append("ws: duplicate delivery")
        ops.records += [{"phase": "ws", "ok": True}] * len(want)
        for _ in range(unexpected):
            ops.failures.append("ws: unexpected delivery")

    # what the server reports about its own sync state (recorded, not checked:
    # the harness measures lag itself)
    try:
        result["synced"] = json.loads(Client(a.rest).send("GET", "/v1/synced", None)[1])
    except Exception as e:
        result["synced"] = f"{type(e).__name__}"
    result["attempted"] = len(ops.records) + (unexpected if a.mode == "live" else 0)
    result["failed"] = len(ops.failures)
    result["api_failed"] = sum(not r["ok"] for r in ops.records if "arm" in r)
    # each distinct cause once, with how many ops it failed
    counts = {}
    for f in ops.failures:
        counts[f] = counts.get(f, 0) + 1
    result["failures"] = [f"{f} (x{n})" for f, n in sorted(counts.items())][:20]
    if a.trace_file:
        with open(a.trace_file, "w") as f:
            for r in ops.records:
                if "arm" in r:
                    f.write(json.dumps(r) + "\n")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
