"""Load-generator process for the ``live_dashboard`` workload.

Runs apart from the system under test, on a wall-clock schedule that
does not slow down when the system does. It holds one WebSocket client
and one REST poller (two connections, four threads including the main
one) and publishes tick files by atomic rename. One process serves every
set-up of a run, so its own start-up is not timed as the system's.

Protocol on stdin/stdout, one line each:
  <- ``connect [<ws port>, <http port>, "<staging>", "<src>"]`` (JSON)
  -> ``ready``                  after the WS client received the snapshot frames
  <- ``go <t0> <first> <count>`` publish ticks first..first+count-1, tick i due
                                at t0 + (i - first) * tick_seconds; poll REST
                                over the same span
  -> ``done``                   when that schedule has been sent
  <- ``stop``                   close both clients
  -> one JSON object            publishes, frames and reads, all wall-clock
The process exits when its stdin closes.

Run: ``python3 perfbench/loadgen.py --tables a,b --tick-seconds 0.2
--read-rate 20``
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_pipeline_spark.serving.ws import OP_TEXT, accept_key, decode_frame  # noqa: E402

SNAPSHOT_FRAMES = 9
READ_PATHS = [f"/api/snapshots/{r}" for r in
              ("metrics", "traffic", "activities", "regions", "flows",
               "alerts", "platform", "health", "geo")] + ["/api/monitor/streams"]


class _Buffered:
    def __init__(self, sock, leftover: bytes) -> None:
        self.sock, self.buf = sock, leftover

    def recv(self, n: int) -> bytes:
        if self.buf:
            out, self.buf = self.buf[:n], self.buf[n:]
            return out
        return self.sock.recv(n)


def ws_connect(port: int):
    sock = socket.create_connection(("127.0.0.1", port), timeout=10)
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    sock.sendall((f"GET /ws HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\nUpgrade: websocket\r\n"
                  f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                  "Sec-WebSocket-Version: 13\r\n\r\n").encode("latin-1"))
    resp = b""
    while b"\r\n\r\n" not in resp:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("server closed during handshake")
        resp += chunk
    head, leftover = resp.split(b"\r\n\r\n", 1)
    if accept_key(key).encode() not in head:
        raise ConnectionError("bad Sec-WebSocket-Accept")
    sock.settimeout(None)
    return sock, _Buffered(sock, leftover)


def _sleep_until(t: float) -> None:
    delay = t - time.time()
    if delay > 0:
        time.sleep(delay)


class Clients:
    """The WS client and REST poller of one set-up, with their logs."""

    def __init__(self, ws_port: int, http_port: int, staging: str, src: str) -> None:
        self.http_port, self.staging, self.src = http_port, staging, src
        self.sock, rx = ws_connect(ws_port)
        self.frames: list[tuple[float, str]] = []
        self.publishes: list[list] = []
        self.reads: list[list] = []
        for _ in range(SNAPSHOT_FRAMES):
            decode_frame(rx)

        def ws_reader():
            try:
                while True:
                    opcode, payload = decode_frame(rx)
                    if opcode == OP_TEXT:
                        self.frames.append((time.time(), json.loads(payload)["event"]))
            except (ConnectionError, OSError):
                pass

        self.reader = threading.Thread(target=ws_reader, name="ws-client")
        self.reader.start()

    def close(self) -> dict:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.reader.join(timeout=10)
        return {"publishes": self.publishes, "frames": self.frames, "reads": self.reads}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--tick-seconds", type=float, required=True)
    ap.add_argument("--read-rate", type=float, required=True)
    args = ap.parse_args()
    tables = args.tables.split(",")
    clients = None

    for line in sys.stdin:
        cmd = line.split()
        if cmd[0] == "connect":
            clients = Clients(*json.loads(line.split(" ", 1)[1]))
            print("ready", flush=True)
            continue
        if cmd[0] == "stop":
            json.dump(clients.close(), sys.stdout)
            sys.stdout.write("\n")
            sys.stdout.flush()
            clients = None
            continue
        t0, first, count = float(cmd[1]), int(cmd[2]), int(cmd[3])
        staging, src, http_port = clients.staging, clients.src, clients.http_port
        publishes, reads = clients.publishes, clients.reads
        end = t0 + count * args.tick_seconds

        def publisher():
            for i in range(count):
                due = t0 + i * args.tick_seconds
                _sleep_until(due)
                started = time.time()
                name = f"{first + i:06d}.parquet"
                for table in tables:
                    os.rename(os.path.join(staging, table, name),
                              os.path.join(src, table, name))
                publishes.append([first + i, due, started, time.time()])

        def poller():
            conn = http.client.HTTPConnection("127.0.0.1", http_port, timeout=10)
            j = 0
            while True:
                due = t0 + j / args.read_rate
                if due >= end:
                    break
                _sleep_until(due)
                path = READ_PATHS[j % len(READ_PATHS)]
                started, ok = time.time(), False
                try:
                    conn.request("GET", path)
                    resp = conn.getresponse()
                    body = resp.read()
                    ok = resp.status == 200 and isinstance(json.loads(body), (dict, list))
                except (OSError, http.client.HTTPException, ValueError):
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", http_port, timeout=10)
                reads.append([path, due, started, time.time(), ok])
                j += 1
            conn.close()

        workers = [threading.Thread(target=publisher, name="publisher"),
                   threading.Thread(target=poller, name="rest-poller")]
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        print("done", flush=True)


if __name__ == "__main__":
    main()
