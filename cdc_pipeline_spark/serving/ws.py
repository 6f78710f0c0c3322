"""WebSocket serving endpoint: snapshot-on-connect + kv pub/sub fan-out.

Reference surface (SURVEY §2.11): ``/root/reference/src/api/routes/ws.py:13-28``
accepts a WS client, sends all nine current snapshots immediately
(``services/ws_manager.py:49-67``), then a single shared broadcast loop
re-fetches the matching snapshot for every pub/sub message and fans the
frame ``{"event": <name>, "data": <payload>}`` out to every connected
client (``ws_manager.py:75-117``), dropping dead sockets silently. The
payload shapes are identical to the REST snapshot endpoints — the WS
layer is wiring, SnapshotService does the shaping.

No WebSocket framework ships in this container, so the transport is
implemented directly from the public protocol spec (RFC 6455): the
HTTP/1.1 Upgrade handshake (Sec-WebSocket-Accept = base64(SHA-1(key +
GUID))) and the frame codec (FIN/opcode byte, 7/16/64-bit lengths,
client-to-server masking, text/close/ping/pong opcodes). Only the
subset the dashboard contract needs is implemented — one-way server
push plus control frames.

Scale posture: this process serves DASHBOARD snapshots, not data-plane
traffic — payloads are the tiny post-aggregation kv values the
streaming sinks maintain, so fan-out cost is |clients| × ~1 KiB per
event. The Spark cluster never talks to WS clients directly; the kv
layer fully decouples them (same posture as the reference's
Redis-backed hub).
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import socketserver
import struct
import threading
from typing import Any

from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT, CONTRACT, SnapshotService

__all__ = ["WSHub", "serve_ws", "encode_text_frame", "decode_frame", "accept_key"]

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3

OP_CONT, OP_TEXT, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x8, 0x9, 0xA


# ---------------------------------------------------------------------------
# Frame codec (RFC 6455 §5)
# ---------------------------------------------------------------------------


def accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a handshake key (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def encode_frame(opcode: int, payload: bytes, mask: bool = False) -> bytes:
    """One complete frame. Servers MUST NOT mask (§5.1); clients MUST."""
    head = bytes([0x80 | opcode])  # FIN set — no fragmentation needed here
    mask_bit = 0x80 if mask else 0
    n = len(payload)
    if n <= 125:
        head += bytes([mask_bit | n])
    elif n <= 0xFFFF:
        head += bytes([mask_bit | 126]) + struct.pack(">H", n)
    else:
        head += bytes([mask_bit | 127]) + struct.pack(">Q", n)
    if mask:
        key = struct.pack(">I", threading.get_ident() & 0xFFFFFFFF)
        masked = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
        return head + key + masked
    return head + payload


def encode_text_frame(text: str) -> bytes:
    return encode_frame(OP_TEXT, text.encode("utf-8"))


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("socket closed mid-frame")
        buf += chunk
    return buf


MAX_INBOUND_FRAME = 1 << 20  # inbound is control traffic only; 1 MiB is generous


def decode_frame(sock: socket.socket) -> tuple[int, bytes]:
    """Read one complete frame from ``sock`` → (opcode, payload).

    The length field is CLIENT-SUPPLIED: without a cap, one frame
    claiming 2⁶² bytes would make ``_read_exact`` accumulate until the
    serving process OOMs. This endpoint is one-way (inbound frames are
    ping/close only), so anything over ``MAX_INBOUND_FRAME`` is a
    protocol error and drops the connection."""
    b0, b1 = _read_exact(sock, 2)
    opcode = b0 & 0x0F
    masked = bool(b1 & 0x80)
    n = b1 & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", _read_exact(sock, 2))
    elif n == 127:
        (n,) = struct.unpack(">Q", _read_exact(sock, 8))
    if n > MAX_INBOUND_FRAME:
        raise ConnectionError(f"inbound frame of {n} bytes exceeds cap")
    key = _read_exact(sock, 4) if masked else b""
    payload = _read_exact(sock, n) if n else b""
    if masked:
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return opcode, payload


# ---------------------------------------------------------------------------
# Handshake (RFC 6455 §4)
# ---------------------------------------------------------------------------


def _read_http_request(sock: socket.socket) -> bytes:
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("client closed during handshake")
        data += chunk
        if len(data) > 65536:
            raise ConnectionError("oversized handshake request")
    return data


class _BufferedRecv:
    """recv()-compatible wrapper that drains handshake leftover bytes
    first — a client that pipelines its first frame into the same write
    as the upgrade request must not lose it (or desync the frame
    parser onto mid-frame bytes)."""

    __slots__ = ("sock", "buf")

    def __init__(self, sock: socket.socket, leftover: bytes) -> None:
        self.sock = sock
        self.buf = leftover

    def recv(self, n: int) -> bytes:
        if self.buf:
            out, self.buf = self.buf[:n], self.buf[n:]
            return out
        return self.sock.recv(n)


def _handshake(sock: socket.socket) -> tuple[str, bytes]:
    """Perform the server side of the upgrade; returns (request path,
    leftover bytes received after the header terminator)."""
    raw = _read_http_request(sock)
    head_b, leftover = raw.split(b"\r\n\r\n", 1)
    head = head_b.decode("latin-1")
    lines = head.split("\r\n")
    path = lines[0].split(" ")[1] if len(lines[0].split(" ")) > 1 else "/"
    headers = {}
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    key = headers.get("sec-websocket-key")
    if (
        key is None
        or "websocket" not in headers.get("upgrade", "").lower()
        or "upgrade" not in headers.get("connection", "").lower()
    ):
        sock.sendall(b"HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n")
        raise ConnectionError("not a websocket upgrade")
    resp = (
        "HTTP/1.1 101 Switching Protocols\r\n"
        "Upgrade: websocket\r\n"
        "Connection: Upgrade\r\n"
        f"Sec-WebSocket-Accept: {accept_key(key)}\r\n"
        "\r\n"
    )
    sock.sendall(resp.encode("latin-1"))
    return path, leftover


# ---------------------------------------------------------------------------
# Hub
# ---------------------------------------------------------------------------


class _Client:
    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.lock = threading.Lock()  # snapshot/broadcast/pong writers interleave

    def send(self, frame: bytes) -> None:
        with self.lock:
            self.sock.sendall(frame)


class WSHub:
    """Connected-client registry + the shared broadcast loop.

    One broadcaster thread per hub subscribes to every kv channel in
    ``CHANNEL_TO_EVENT``; each message re-fetches the authoritative
    snapshot (reference behavior — the published payload is only a
    wake-up signal, ws_manager.py:93-104) and fans one encoded frame out
    to all clients.
    """

    def __init__(self, kv: Any) -> None:
        self.kv = kv
        self.service = SnapshotService(kv)
        self._clients: set[_Client] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sub = kv.subscribe(*CHANNEL_TO_EVENT)
        self._broadcaster = threading.Thread(
            target=self._broadcast_loop, name="ws-broadcast", daemon=True
        )
        self._broadcaster.start()

    # -- client lifecycle ---------------------------------------------------
    def attach(self, sock: socket.socket) -> _Client:
        client = _Client(sock)
        # Register FIRST, then send the snapshots (ws_manager.py:60-67
        # semantics: full state, then live frames). The other order has
        # a lost-update window: a publish processed by the broadcaster
        # after a snapshot was fetched but before registration reaches
        # nobody, and a low-frequency channel then stays stale until
        # its NEXT publish. Registered-first, the worst case is the
        # client seeing an update frame followed by an equal-or-newer
        # snapshot of the same channel (snapshots are fetched after the
        # update landed in the kv) — duplicate delivery, never a lost
        # one. _Client.send serializes frames under the client's lock.
        with self._lock:
            self._clients.add(client)
        for event in CONTRACT:
            client.send(self._frame(event))
        return client

    def detach(self, client: _Client) -> None:
        with self._lock:
            self._clients.discard(client)

    @property
    def client_count(self) -> int:
        with self._lock:
            return len(self._clients)

    # -- broadcast ----------------------------------------------------------
    def _frame(self, event: str) -> bytes:
        payload = {"event": event, "data": self.service.fetch(event)}
        return encode_text_frame(json.dumps(payload, separators=(",", ":")))

    def _broadcast_loop(self) -> None:
        import queue as _queue

        while not self._stop.is_set():
            try:
                channel, _payload = self._sub.get(timeout=0.2)
            except _queue.Empty:
                continue
            event = CHANNEL_TO_EVENT.get(channel)
            if event is None:
                continue
            try:
                frame = self._frame(event)
            except Exception:
                continue
            with self._lock:
                targets = list(self._clients)
            dead = []
            for client in targets:
                try:
                    client.send(frame)
                except OSError:
                    dead.append(client)
            if dead:
                with self._lock:
                    for client in dead:
                        self._clients.discard(client)

    def close(self) -> None:
        self._stop.set()
        self._broadcaster.join(timeout=2)
        try:
            self.kv.unsubscribe(self._sub)
        except Exception:
            pass


# ---------------------------------------------------------------------------
# Server
# ---------------------------------------------------------------------------


class _WSRequestHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # pragma: no cover - exercised via test client
        hub: WSHub = self.server.hub  # type: ignore[attr-defined]
        try:
            path, leftover = _handshake(self.request)
        except ConnectionError:
            return
        if path.split("?")[0] != "/ws":
            self.request.sendall(encode_frame(OP_CLOSE, struct.pack(">H", 1008)))
            return
        client = hub.attach(self.request)
        rx = _BufferedRecv(self.request, leftover)
        try:
            while True:
                opcode, payload = decode_frame(rx)
                if opcode == OP_CLOSE:
                    client.send(encode_frame(OP_CLOSE, payload[:2]))
                    break
                if opcode == OP_PING:
                    client.send(encode_frame(OP_PONG, payload))
                # inbound text is ignored — the endpoint is one-way push,
                # the reference's receive loop exists only to detect
                # disconnects (routes/ws.py:22-26)
        except (ConnectionError, OSError):
            pass
        finally:
            hub.detach(client)


class _ThreadingWSServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def serve_ws(kv: Any, host: str = "127.0.0.1", port: int = 0):
    """Start the WS endpoint on ``host:port`` (0 → ephemeral). Returns
    ``(server, hub)``; call ``server.shutdown(); server.server_close();
    hub.close()`` to stop. The server runs in a daemon thread."""
    # bind BEFORE creating the hub: a failed bind (port in use) must not
    # leak the hub's kv subscription and broadcaster thread
    server = _ThreadingWSServer((host, port), _WSRequestHandler)
    hub = WSHub(kv)
    server.hub = hub  # type: ignore[attr-defined]
    thread = threading.Thread(target=server.serve_forever, name="ws-server", daemon=True)
    thread.start()
    return server, hub
