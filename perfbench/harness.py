"""Pure helpers of the benchmark runner: sample statistics, the open-loop
request generator and the output checks. Kept free of process and Spark
set-up so that test_harness.py can drive them with fakes."""

import collections
import json
import selectors
import socket
import statistics
import time

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail_index(n, beyond=TAIL_BEYOND):
    """Index into n sorted samples of the highest percentile that still has
    at least `beyond` samples above it, or None when n is too small."""
    if n <= beyond:
        return None
    return n - beyond - 1


def tail(values, beyond=TAIL_BEYOND):
    """(value, percentile, n) of the tail percentile of `values`; the
    percentile is the share of samples at or below the value."""
    s = sorted(values)
    k = tail_index(len(s), beyond)
    if k is None:
        return None, None, len(s)
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def fingerprint_mismatches(expected, observed):
    """(name, fingerprint) for every execution whose fingerprint differs
    from the recorded one, and (name, None) for a name that never ran. A
    fingerprint is [row count, order-insensitive row hash]; `observed` maps
    each name to the fingerprints of all its executions."""
    bad = []
    for name in sorted(expected):
        runs = observed.get(name) or []
        if not runs:
            bad.append((name, None))
        bad += [(name, fp) for fp in runs
                if [str(x) for x in fp] != [str(x) for x in expected[name]]]
    return bad


Sample = collections.namedtuple("Sample", "due sent done ok body")


def open_loop(schedule, transport, clock):
    """Send each (due, payload) of `schedule` at its due time over the
    transport's connections, from one thread.

    The schedule does not wait for replies: a request goes out at its due
    time unless every connection is still busy, in which case it goes out
    as soon as one frees. Latency is taken from the due time, so a stalled
    reply charges its wait to every request queued behind it, and
    `sent - due` is how late the generator ran.

    `transport` has `conns` (a list), `send(conn, payload)` and
    `poll(timeout)`, which returns [(conn, ok, body)] for replies that
    completed. `clock()` returns seconds."""
    pending = collections.deque(enumerate(schedule))
    free = list(transport.conns)
    inflight = {}
    out = [None] * len(schedule)
    while pending or inflight:
        now = clock()
        while pending and free and pending[0][1][0] <= now:
            i, (due, payload) = pending.popleft()
            conn = free.pop()
            inflight[conn] = (i, due, clock())
            transport.send(conn, payload)
        if pending and free:
            timeout = max(0.0, pending[0][1][0] - clock())
        else:
            timeout = None
        for conn, ok, body in transport.poll(timeout):
            i, due, sent = inflight.pop(conn)
            out[i] = Sample(due, sent, clock(), ok, body)
            free.append(conn)
    return out


class HttpTransport:
    """HTTP/1.1 keep-alive connections to one local server, driven by a
    selector. Payloads are request bodies POSTed to `path`; a reply is
    (status == 200, body)."""

    def __init__(self, port, nconns, path="/predict"):
        self.port = port
        self.path = path
        self.sel = selectors.DefaultSelector()
        self.conns = []
        self.buf = {}
        for _ in range(nconns):
            s = socket.create_connection(("127.0.0.1", port))
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            s.setblocking(False)
            self.sel.register(s, selectors.EVENT_READ)
            self.conns.append(s)
            self.buf[s] = b""

    def send(self, conn, payload):
        body = payload.encode()
        head = ("POST %s HTTP/1.1\r\nHost: 127.0.0.1:%d\r\n"
                "Content-Type: application/json\r\nContent-Length: %d\r\n\r\n"
                % (self.path, self.port, len(body))).encode()
        conn.setblocking(True)
        try:
            conn.sendall(head + body)
        finally:
            conn.setblocking(False)

    def _reply(self, conn):
        data = self.buf[conn]
        end = data.find(b"\r\n\r\n")
        if end < 0:
            return None
        head = data[:end].decode("latin-1").split("\r\n")
        length = 0
        for line in head[1:]:
            k, _, v = line.partition(":")
            if k.strip().lower() == "content-length":
                length = int(v.strip())
        if len(data) < end + 4 + length:
            return None
        body = data[end + 4:end + 4 + length].decode()
        self.buf[conn] = data[end + 4 + length:]
        status = int(head[0].split()[1])
        return status == 200, body

    def poll(self, timeout):
        done = []
        for key, _ in self.sel.select(timeout):
            conn = key.fileobj
            chunk = conn.recv(65536)
            if not chunk:
                raise ConnectionError("server closed a keep-alive connection")
            self.buf[conn] += chunk
            reply = self._reply(conn)
            if reply is not None:
                done.append((conn, reply[0], reply[1]))
        return done

    def close(self):
        for s in self.conns:
            self.sel.unregister(s)
            s.close()
        self.sel.close()


def latency_ms(samples):
    return [1000.0 * (s.done - s.due) for s in samples]


def lag_ms(samples):
    return [1000.0 * (s.sent - s.due) for s in samples]


def backlog_grows(samples, limit_ms):
    """True when requests fell further behind over the rung: the last
    quarter waited, from its due time, more than the limit longer than the
    first quarter did."""
    q = max(1, len(samples) // 4)
    lat = latency_ms(samples)
    return median(lat[-q:]) - median(lat[:q]) > limit_ms


def parse_json_line(text, tag):
    """The JSON object on the last stdout line that starts with `tag`."""
    found = None
    for line in text.splitlines():
        if line.startswith(tag):
            found = json.loads(line[len(tag):])
    return found


def now():
    return time.perf_counter()
