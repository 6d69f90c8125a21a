"""Typed ports and wiring — parity with gasket/src/messaging.rs.

The reference wires statically-typed stages over bounded tokio channels at
runtime. Here the transport is a bounded ``queue.Queue`` per edge (same
backpressure model: a full queue blocks the producer), and "typed" means an
optional schema/type tag checked at connect time — the analogue of the
compile-time payload types (README.md:16), enforced at wiring ("analysis")
time like Spark checks DataFrame schemas.

Surface parity map (messaging.rs):
- Message<T>                    → Message dataclass (payload + optional type tag)
- OutputPort/InputPort          → same names; send/recv; NotConnected errors
- connect_ports (1:1, cap)      → same (messaging.rs:404-411)
- funnel_ports  (N:1)           → same (messaging.rs:413-423)
- broadcast_port (1:N tee)      → same (messaging.rs:425-436)
- Fanout (1:N distinct ports)   → same (messaging.rs:72-95)
- SinkAdapter (bounded collect) → same keep-OLDEST-cap semantics
                                  (messaging.rs:224-229: push_back/pop_back)
- TimerPort (interval ticks)    → thread-backed ticker (messaging.rs:151-209)
"""

from __future__ import annotations

import queue
import threading
import time
from dataclasses import dataclass
from typing import Any, Generic, TypeVar

T = TypeVar("T")

_SENTINEL = object()  # end-of-stream marker for graceful drain


class NotConnected(RuntimeError):
    pass


class PortTypeMismatch(TypeError):
    pass


@dataclass(frozen=True)
class Message(Generic[T]):
    payload: T


class OutputPort(Generic[T]):
    """messaging.rs:40-69: send() into the connected channels; error if
    not connected; len() exposes the deepest channel's depth. A channel
    is a bounded ``queue.Queue`` or a ``_BroadcastRing`` (put/qsize)."""

    def __init__(self, schema: Any = None):
        self.schema = schema
        self._channels: list[queue.Queue | _BroadcastRing] = []

    def connect(self, channel: queue.Queue | _BroadcastRing) -> None:
        self._channels.append(channel)

    def send(self, msg: Message | Any) -> None:
        """Blocks while a connected channel is full (backpressure). A
        stage's dismissal is observed between units, by its work loop,
        not while blocked here on a full channel."""
        if not isinstance(msg, Message):
            msg = Message(msg)
        if not self._channels:
            raise NotConnected("output port is not connected")
        for ch in self._channels:
            ch.put(msg)

    def close(self) -> None:
        for ch in self._channels:
            ch.put(Message(_SENTINEL))

    def __len__(self) -> int:
        return max((ch.qsize() for ch in self._channels), default=0)


class InputPort(Generic[T]):
    """messaging.rs:113-149: recv() from the connected channel."""

    def __init__(self, schema: Any = None):
        self.schema = schema
        self._q: queue.Queue | None = None
        self._producers = 0
        self._ended_producers = 0

    def connect(self, q: queue.Queue) -> None:
        if self._q is not None and self._q is not q:
            raise RuntimeError("input port already connected to a different channel")
        self._q = q
        self._producers += 1

    def recv(self, timeout: float | None = None):
        """Blocking receive. Returns the Message, or None once every
        connected producer has closed (end of stream — WorkSchedule::Done)."""
        if self._q is None:
            raise NotConnected("input port is not connected")
        deadline = None if timeout is None else time.monotonic() + timeout
        while True:
            remaining = None if deadline is None else max(0.0, deadline - time.monotonic())
            try:
                msg = self._q.get(timeout=remaining)
            except queue.Empty:
                raise TimeoutError("recv timed out")
            if msg.payload is _SENTINEL:
                self._ended_producers += 1
                if self._ended_producers >= self._producers:
                    return None
                continue
            return msg

    def __len__(self) -> int:
        return self._q.qsize() if self._q is not None else 0


def _check_types(output: OutputPort, input_: InputPort) -> None:
    if output.schema is not None and input_.schema is not None and output.schema != input_.schema:
        raise PortTypeMismatch(
            f"cannot wire port of type {output.schema!r} into {input_.schema!r}"
        )


def connect_ports(output: OutputPort, input_: InputPort, cap: int) -> None:
    """1:1 edge over a bounded channel (messaging.rs:404-411)."""
    _check_types(output, input_)
    q: queue.Queue = queue.Queue(maxsize=cap)
    output.connect(q)
    input_.connect(q)


def funnel_ports(outputs: list[OutputPort], input_: InputPort, cap: int) -> None:
    """N:1 merge: many producers share one channel (messaging.rs:413-423)."""
    q: queue.Queue = queue.Queue(maxsize=cap)
    for out in outputs:
        _check_types(out, input_)
        out.connect(q)
        input_.connect(q)


class Lagged(RuntimeError):
    """Raised by a lagging broadcast subscriber's next recv after the
    ring wrapped past it — the analogue of tokio broadcast's
    RecvError::Lagged(n) (the reference's broadcast_port transport,
    messaging.rs:425-436): ``skipped`` messages were dropped for this
    receiver and its position jumps to the oldest retained message, so
    the recv AFTER this exception resumes delivery there."""

    def __init__(self, skipped: int):
        super().__init__(
            f"broadcast receiver lagged; skipped {skipped} messages"
        )
        self.skipped = skipped


class _BroadcastRing:
    """Fixed-cap ring shared by every subscriber: send NEVER blocks;
    overflow overwrites the oldest entry and lagging receivers observe
    Lagged on their next recv (tokio broadcast semantics).

    Index-based circular buffer: O(1) send regardless of cap, O(1)
    cursor reads. Once the end-of-stream sentinel is enqueued the ring
    is closed and further sends raise NotConnected — the sentinel is
    always the newest entry, so no later send can evict it and every
    subscriber (however lagged) eventually observes end-of-stream."""

    def __init__(self, cap: int):
        self._cap = max(1, cap)
        self._buf: list[Message | None] = [None] * self._cap
        self._len = 0  # number of retained entries
        self._head = 0  # sequence number of the oldest retained entry
        self._closed = False
        self._cond = threading.Condition()

    def put(self, msg: Message) -> None:
        with self._cond:
            if self._closed:
                if msg.payload is _SENTINEL:
                    return  # repeated close() is idempotent, as in queue
                    # mode where the extra sentinel is benignly absorbed
                raise NotConnected("send on closed broadcast ring")
            if msg.payload is _SENTINEL:
                self._closed = True
            self._buf[(self._head + self._len) % self._cap] = msg
            if self._len < self._cap:
                self._len += 1
            else:
                self._head += 1
            self._cond.notify_all()

    def _at(self, seq: int) -> Message:  # caller holds _cond
        return self._buf[seq % self._cap]

    def _end(self) -> int:  # seq one past the newest; caller holds _cond
        return self._head + self._len

    def qsize(self) -> int:
        with self._cond:
            return self._len


class _RingReceiver:
    """Per-subscriber cursor into a _BroadcastRing; duck-types the
    queue.Queue surface InputPort.recv drives (get/qsize)."""

    def __init__(self, ring: _BroadcastRing):
        self._ring = ring
        with ring._cond:
            self._next = ring._end()  # see messages sent after subscribe

    def get(self, timeout: float | None = None) -> Message:
        deadline = None if timeout is None else time.monotonic() + timeout
        with self._ring._cond:
            while True:
                if self._next < self._ring._head:
                    skipped = self._ring._head - self._next
                    self._next = self._ring._head
                    raise Lagged(skipped)
                if self._next < self._ring._end():
                    msg = self._ring._at(self._next)
                    self._next += 1
                    return msg
                remaining = (
                    None if deadline is None else deadline - time.monotonic()
                )
                if remaining is not None and remaining <= 0:
                    raise queue.Empty
                self._ring._cond.wait(remaining)

    def qsize(self) -> int:
        with self._ring._cond:
            return max(0, self._ring._end() - max(self._next, self._ring._head))


def broadcast_port(
    output: OutputPort, inputs: list[InputPort], cap: int, lagged: bool = False
) -> None:
    """1:N tee: every consumer sees every message (messaging.rs:425-436).

    The reference's transport is a tokio broadcast channel: a send NEVER
    blocks — when the ring wraps past a slow consumer, that consumer
    loses the oldest messages and observes RecvError::Lagged on recv.
    The default here is a DOCUMENTED DEVIATION (VERDICT r18 #4): each
    consumer gets its own bounded blocking queue, so delivery is
    lossless but one stalled consumer backpressures the whole tee
    (pipeline-wide stall instead of bounded loss — the stall is pinned
    in tests/test_messaging.py). Pass ``lagged=True`` for
    reference-parity drop-oldest semantics: sends never block, and a
    lagging subscriber's recv raises ``Lagged(skipped)`` before
    resuming at the oldest retained message."""
    if lagged:
        ring = _BroadcastRing(cap)
        for inp in inputs:
            _check_types(output, inp)
            inp.connect(_RingReceiver(ring))
        output.connect(ring)
        return
    for inp in inputs:
        _check_types(output, inp)
        q: queue.Queue = queue.Queue(maxsize=cap)
        output.connect(q)
        inp.connect(q)


class Fanout:
    """1:N over distinct output ports; NotConnected when empty
    (messaging.rs:72-95)."""

    def __init__(self, ports: list[OutputPort] | None = None):
        self._ports = list(ports or [])

    def add(self, port: OutputPort) -> None:
        self._ports.append(port)

    def send(self, msg: Message | Any) -> None:
        if not self._ports:
            raise NotConnected("fanout has no output ports")
        for p in self._ports:
            p.send(msg)


class SinkAdapter:
    """Bounded terminal buffer keeping the OLDEST ``cap`` messages
    (messaging.rs:211-253 — push_back then pop_back on overflow, i.e. new
    messages are dropped once full: df.limit(cap) semantics, not a ring)."""

    def __init__(self, cap: int):
        self._cap = cap
        self._items: list[Any] = []
        self._lock = threading.Lock()

    def send(self, msg: Message | Any) -> None:
        payload = msg.payload if isinstance(msg, Message) else msg
        with self._lock:
            if len(self._items) < self._cap:
                self._items.append(payload)

    def drain(self) -> list[Any]:
        with self._lock:
            out, self._items = self._items, []
            return out

    def __len__(self) -> int:
        return len(self._items)


class TimerPort:
    """Interval tick source (messaging.rs:151-209): a background thread
    publishes monotonic tick timestamps; lazy start; stop() cancels."""

    def __init__(self, interval: float, cap: int = 16):
        self._interval = interval
        self._q: queue.Queue = queue.Queue(maxsize=cap)
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                self._q.put_nowait(Message(time.monotonic()))
            except queue.Full:
                pass  # slow consumer: drop ticks, like a watch channel

    def recv(self, timeout: float | None = None) -> Message:
        if self._thread is None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return self._q.get(timeout=timeout)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=1.0)
