"""Redis-protocol (RESP2) pub/sub transport: broker, client, consumer loop.

The reference delivers notifications through Redis channels: publishers
``PUBLISH`` JSON payloads to ``block``/``transaction``/``event``
(``app/block/publish_block.go:36``), one consumer per root topic
``SUBSCRIBE``s and fans matched payloads out to WebSocket clients
(``app/pubsub/block.go:34-143``, ``transaction.go:39-160``,
``event.go:42-141``). This module implements that transport from the
public RESP2 protocol specification over stdlib sockets — no external
broker or client library — so the full pub/sub path runs and is tested
in this container; in production the same client code points at a real
Redis/Valkey endpoint, and the engine side is unchanged.

Pieces:

- RESP2 wire codec (arrays / bulk strings / simple strings / integers);
- ``RespBroker``: threaded TCP server speaking SUBSCRIBE / UNSUBSCRIBE /
  PUBLISH / PING — exactly the verb set the reference uses via go-redis;
- ``RespClient``: publish + subscribe/get_message, mirroring the
  consumer loop's blocking read with timeout (1 s poll cadence,
  ``pubsub/block.go:55``);
- Python-side subscription matchers (``py_tx_match`` / ``py_event_match``)
  twinning ``DoesMatchWithPublishedTransactionData`` /
  ``...EventData`` (``subscription.go:159-199, 74-124``) for the
  delivery loop, where payloads are decoded JSON dicts, not DataFrame
  rows. Their Column twins live in ``functions.topics``; a test matrix
  pins the two implementations together.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from collections.abc import Callable

from pyspark.sql import functions as F

# -- RESP2 codec -------------------------------------------------------------


def resp_encode(item) -> bytes:
    """Encode a python value as RESP2 (ints, bytes/str, lists)."""
    if isinstance(item, int):
        return b":%d\r\n" % item
    if isinstance(item, str):
        item = item.encode()
    if isinstance(item, (bytes, bytearray)):
        return b"$%d\r\n%s\r\n" % (len(item), bytes(item))
    if isinstance(item, (list, tuple)):
        return b"*%d\r\n" % len(item) + b"".join(resp_encode(x) for x in item)
    raise TypeError(f"cannot RESP-encode {type(item)}")


def _read_line(rf) -> bytes:
    line = rf.readline()
    if not line:
        raise ConnectionError("peer closed")
    return line.rstrip(b"\r\n")


def resp_decode(rf):
    """Decode one RESP2 value from a buffered reader."""
    line = _read_line(rf)
    kind, body = line[:1], line[1:]
    if kind == b"+":
        return body.decode()
    if kind == b"-":
        raise RuntimeError(body.decode())
    if kind == b":":
        return int(body)
    if kind == b"$":
        n = int(body)
        if n == -1:
            return None
        data = rf.read(n + 2)[:-2]
        return data
    if kind == b"*":
        n = int(body)
        if n == -1:
            return None
        return [resp_decode(rf) for _ in range(n)]
    raise ValueError(f"bad RESP type byte: {kind!r}")


# -- broker ------------------------------------------------------------------


class _BrokerState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        # channel -> {wfile-writer callbacks}
        self.subs: dict[str, set[Callable[[bytes], None]]] = {}


class RespBroker:
    """Minimal threaded RESP2 pub/sub broker (SUBSCRIBE / UNSUBSCRIBE /
    PUBLISH / PING). ``port=0`` binds an ephemeral port; read it back
    from ``.port``."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        state = self._state = _BrokerState()

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                my_channels: set[str] = set()
                wlock = threading.Lock()

                def push(payload: bytes) -> None:
                    with wlock:
                        self.wfile.write(payload)
                        self.wfile.flush()

                try:
                    while True:
                        try:
                            cmd = resp_decode(self.rfile)
                        except (ConnectionError, ValueError):
                            break
                        if not isinstance(cmd, list) or not cmd:
                            break
                        verb = bytes(cmd[0]).upper()
                        # channel names decode as UTF-8; a PUBLISH PAYLOAD
                        # stays raw bytes (RESP is binary-safe — decoding
                        # it would kill the connection on any non-UTF-8
                        # blob, which real Redis happily accepts)
                        try:
                            args = [
                                bytes(a).decode()
                                for a in (
                                    cmd[1:2] if verb == b"PUBLISH" else cmd[1:]
                                )
                            ]
                        except UnicodeDecodeError:
                            push(b"-ERR invalid channel name\r\n")
                            continue
                        if verb == b"PING":
                            push(b"+PONG\r\n")
                        elif verb == b"SUBSCRIBE":
                            with state.lock:
                                for ch in args:
                                    state.subs.setdefault(ch, set()).add(push)
                                    my_channels.add(ch)
                                    n = len(my_channels)
                                    push(resp_encode([b"subscribe", ch, n]))
                        elif verb == b"UNSUBSCRIBE":
                            with state.lock:
                                for ch in args or list(my_channels):
                                    state.subs.get(ch, set()).discard(push)
                                    my_channels.discard(ch)
                                    push(
                                        resp_encode(
                                            [b"unsubscribe", ch, len(my_channels)]
                                        )
                                    )
                        elif verb == b"PUBLISH":
                            if len(cmd) != 3:
                                push(
                                    b"-ERR wrong number of arguments for "
                                    b"'publish'\r\n"
                                )
                                continue
                            ch, payload = args[0], cmd[2]
                            with state.lock:
                                targets = list(state.subs.get(ch, ()))
                            msg = resp_encode([b"message", ch, bytes(payload)])
                            delivered = 0
                            for t in targets:
                                try:
                                    t(msg)
                                    delivered += 1
                                except OSError:
                                    with state.lock:
                                        state.subs.get(ch, set()).discard(t)
                            push(resp_encode(delivered))
                        else:
                            push(b"-ERR unknown command\r\n")
                finally:
                    with state.lock:
                        for ch in my_channels:
                            state.subs.get(ch, set()).discard(push)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def start(self) -> "RespBroker":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


# -- client ------------------------------------------------------------------


class _SockReader:
    """Buffered socket reader with an inspectable buffer — ``makefile``
    is unusable here because a read timeout poisons its buffer, and its
    internal buffer can't be checked without triggering blocking I/O."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = b""

    def _recv(self) -> None:
        data = self._sock.recv(65536)
        if not data:
            raise ConnectionError("peer closed")
        self._buf += data

    def readline(self) -> bytes:
        while b"\n" not in self._buf:
            self._recv()
        i = self._buf.index(b"\n") + 1
        line, self._buf = self._buf[:i], self._buf[i:]
        return line

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            self._recv()
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def has_buffered(self) -> bool:
        return bool(self._buf)


class RespClient:
    """Tiny RESP2 client: ``publish`` on one connection, or turn the
    connection into subscriber mode with ``subscribe`` + ``get_message``
    (the go-redis usage pattern of the reference's consumer loops)."""

    def __init__(self, host: str, port: int) -> None:
        self._sock = socket.create_connection((host, port))
        self._rf = _SockReader(self._sock)

    def _cmd(self, *parts):
        self._sock.sendall(resp_encode(list(parts)))
        return resp_decode(self._rf)

    def ping(self) -> bool:
        return self._cmd(b"PING") == "PONG"

    def publish(self, channel: str, payload: str | bytes) -> int:
        if isinstance(payload, str):
            payload = payload.encode()
        return self._cmd(b"PUBLISH", channel.encode(), payload)

    def subscribe(self, *channels: str) -> None:
        self._sock.sendall(
            resp_encode([b"SUBSCRIBE"] + [c.encode() for c in channels])
        )
        for _ in channels:
            resp_decode(self._rf)  # consume subscribe confirmations

    def get_message(self, timeout: float = 1.0) -> dict | None:
        """Next pubsub message or None on timeout — the 1 s poll shape of
        the reference's consumer loop (pubsub/block.go:55).

        Readiness via ``select`` rather than a socket timeout: a timed-out
        ``makefile`` reader refuses all further reads (CPython marks the
        buffer poisoned), which would kill the long-lived consumer.

        Once a frame has STARTED, the decode reads under a hard 30 s
        socket timeout: a broker stalling mid-frame raises
        ``ConnectionError`` (dead connection — resync inside a
        byte-stream protocol is impossible) instead of hanging the
        consumer loop forever past its poll cadence."""
        import select

        if not self._rf.has_buffered():  # wait for new socket data
            ready, _, _ = select.select([self._sock], [], [], timeout)
            if not ready:
                return None
        self._sock.settimeout(30.0)
        try:
            msg = resp_decode(self._rf)
        except (TimeoutError, socket.timeout) as exc:
            raise ConnectionError("broker stalled mid-frame") from exc
        finally:
            self._sock.settimeout(None)
        if isinstance(msg, list) and len(msg) == 3 and bytes(msg[0]) == b"message":
            return {"channel": bytes(msg[1]).decode(), "data": bytes(msg[2])}
        return None

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


# -- python-side subscription matchers (consumer-loop twins of T9/T10) -------


def _ci_eq(a: str, b: str) -> bool:
    """CheckSimilarity, subscription.go:141-150 — case-insensitive."""
    return a.lower() == b.lower()


def py_tx_match(payload: dict, pattern: str) -> bool:
    """DoesMatchWithPublishedTransactionData (subscription.go:159-199):
    ``transaction/<from|*>/<to|*>``; an absent ``to`` (contract
    creation) matches only the ``*`` to-slot."""
    parts = pattern.split("/")
    if parts[0] != "transaction" or len(parts) != 3:
        return False
    f, t = parts[1], parts[2]
    from_ok = f == "*" or _ci_eq(payload.get("from", ""), f)
    to_val = payload.get("to") or ""
    to_ok = t == "*" if not to_val else (t == "*" or _ci_eq(to_val, t))
    return from_ok and to_ok


def py_event_match(payload: dict, pattern: str) -> bool:
    """DoesMatchWithPublishedEventData (subscription.go:74-124):
    ``event/<contract|*>/<t0>/<t1>/<t2>/<t3>``; an out-of-range topic
    index matches only ``*``/empty."""
    parts = pattern.split("/")
    if parts[0] != "event" or len(parts) != 6:
        return False
    contract = parts[1]
    if contract != "*" and not _ci_eq(payload.get("origin", ""), contract):
        return False
    topics = payload.get("topics") or []
    for k, want in enumerate(parts[2:6]):
        if want in ("*", ""):
            continue
        if k >= len(topics) or not _ci_eq(topics[k], want):
            return False
    return True


def consume_loop(
    client: RespClient,
    subscriptions: dict[str, list[str]],
    deliver: Callable[[str, str, dict], None],
    max_messages: int,
    poll_seconds: float = 1.0,
) -> int:
    """One consumer draining its subscribed channels and fanning matched
    payloads out — the body of the reference's per-root consumer
    goroutine. *subscriptions*: channel → subscription patterns.
    *deliver*(pattern, channel, payload) is the WS write. Returns the
    number of deliveries; exits after *max_messages* raw messages (the
    caller owns lifecycle, matching the manager's context cancel)."""
    matchers = {"transaction": py_tx_match, "event": py_event_match}
    delivered = 0
    for _ in range(max_messages):
        msg = client.get_message(timeout=poll_seconds)
        if msg is None:
            continue
        payload = json.loads(msg["data"])
        for pattern in subscriptions.get(msg["channel"], []):
            match = matchers.get(msg["channel"])
            if match is None or match(payload, pattern):  # block: match-all
                deliver(pattern, msg["channel"], payload)
                delivered += 1
    return delivered


def publish_channels(frames, host: str, port: int) -> None:
    """Publish SEVERAL channels' payload frames in ONE Spark action:
    *frames* is ``[(channel, df_with_payload_col), ...]``; the frames
    union as tagged ``(channel, payload)`` rows and a single
    ``foreachPartition`` fans them out. Union concatenates the parent
    partitions (no interleaving within a partition), so per-partition
    ordering WITHIN a channel is untouched; cross-channel ordering
    inside one batch is not guaranteed — already the documented
    batch-internal divergence from the reference's per-block sequential
    publish (PARITY.md). Motivation: three sequential actions cost
    three job-scheduling floors per micro-batch, the largest leg of
    the round-14 notification-latency profile."""
    tagged = None
    for channel, df in frames:
        t = df.select(
            F.lit(channel).alias("channel"), F.col("payload")
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    if tagged is None:
        return

    def _part(rows) -> None:
        client = None
        try:
            for row in rows:
                if client is None:
                    client = RespClient(host, port)
                client.publish(row["channel"], row["payload"])
        finally:
            if client is not None:
                client.close()

    tagged.foreachPartition(_part)


def make_resp_publisher(host: str, port: int):
    """Publisher callback for ``start_ingest_stream(publish=...)``: sends
    the batch's fresh block notifications plus their transaction and
    event payloads to the reference's three channels (block /
    transaction / event — app/setup.go:55-60, publish order
    block.go:22-52).

    Payloads come from the BATCH's own normalized frames (the 3-arg
    ``on_fresh`` contract): fresh rows are a subset of the batch, so
    the three payload plans are O(batch). The earlier form semi-joined
    the STORE tables instead — three full-store scans per micro-batch,
    a per-batch cost that grows with the store on a long-running sync
    stream (surfaced by the round-14 notification-latency bench). The
    store path remains as the fallback for 2-arg invocations (manual
    re-publish tooling that has no batch in hand)."""
    from .publish import block_payload, event_payload, tx_payload

    def publish(store, fresh, batch=None) -> None:
        if batch is not None:
            src_blocks, src_txs, src_events = batch
        else:
            src_blocks, src_txs, src_events = (
                store.blocks(), store.transactions(), store.events(),
            )
        blocks = src_blocks.join(fresh, ["number", "hash"], "left_semi")
        hashes = blocks.select("hash")
        txs = src_txs.join(
            hashes.withColumnRenamed("hash", "blockhash"), "blockhash", "left_semi"
        )
        events = src_events.join(
            hashes.withColumnRenamed("hash", "blockhash"), "blockhash", "left_semi"
        )
        # ONE action for all three channels (round-15 latency leg cut:
        # three sequential foreachPartition actions were three
        # job-scheduling floors per micro-batch)
        publish_channels(
            [
                ("block", block_payload(blocks)),
                ("transaction", tx_payload(txs)),
                ("event", event_payload(events)),
            ],
            host,
            port,
        )

    return publish
