"""Open-loop load generator and sink listener for the `relay` workload.

One thread runs one selector over everything: the sender connections to
the engine's TCP receiver, their per-record OK/THROTTLED acks, and the
listening sockets of the four sink heads (three routes and the
dead-letter branch). Sends follow a schedule fixed by the seed before
the run starts: a saturating burst, then Poisson arrivals at a
reference rate. Each message is stamped with its due time and its
latency is measured from that due time to its receipt at the sink.
"""
import selectors
import socket
import threading
import time

import numpy as np

ROUTES = ("ra", "rb", "rc")
DEAD_LETTER = "dlq"
SINKS = ROUTES + (DEAD_LETTER,)
SHARES = (0.55, 0.30, 0.12)  # the rest (3%) carries an unknown type


def fill(seq, seed):
    """Payload check field: a pure function of (seq, seed)."""
    return "%08x" % (((seq * 2654435761) ^ (seed * 40503)) & 0xFFFFFFFF)


class Plan:
    """The seed's message schedule, built before the engine starts."""

    def __init__(self, seed, lifetime, burst, rate, rate_start_s, rate_s):
        rng = np.random.RandomState([seed, lifetime])
        gaps = rng.exponential(1.0 / rate, size=int(rate * rate_s * 1.5) + 16)
        arrivals = rate_start_s + np.cumsum(gaps)
        arrivals = arrivals[arrivals < rate_start_s + rate_s]
        self.n_burst = burst
        self.due_ns = np.concatenate(
            [np.zeros(burst), arrivals * 1e9]).astype(np.int64)
        n = len(self.due_ns)
        u = rng.random_sample(n)
        kind = np.searchsorted(np.cumsum(SHARES), u, side="right")
        self.route = [SINKS[k] if k < len(ROUTES) else DEAD_LETTER for k in kind]
        types = [ROUTES[k] if k < len(ROUTES) else "zz%d" % (k % 7) for k in kind]
        self.lines = [
            ("type=%s&s=%d %d,%d,%d,%s\r\n" % (
                types[i], i, i, lifetime, self.due_ns[i] // 1000, fill(i, seed))).encode()
            for i in range(n)]
        self.seed = seed
        self.lifetime = lifetime
        self.last_due_s = float(self.due_ns[-1]) / 1e9

    def __len__(self):
        return len(self.due_ns)


class Run:
    """One pass of a plan against a receiver port, with the sink
    listeners already bound (they must exist before the pipeline)."""

    def __init__(self, listeners, plan, connections):
        self.listeners = listeners  # name -> listening socket
        self.plan = plan
        self.connections = connections
        n = len(plan)
        self.sent_ns = np.zeros(n, dtype=np.int64)
        self.ack_ns = np.zeros(n, dtype=np.int64)
        self.status = np.zeros(n, dtype=np.int8)  # 0 none, 1 OK, 2 THROTTLED
        self.recv_ns = np.zeros(n, dtype=np.int64)
        self.wrong = np.zeros(n, dtype=bool)  # arrived at another route's sink
        self.dups = 0
        self.stale = 0
        self.misrouted = 0
        self.corrupt = 0
        self.refused = 0
        self.sink_connects = 0
        self.live_conns = set()
        self.late_ns = []

    def drive(self, port, start_wall, drain_s):
        """Send the plan from wall-clock instant `start_wall`, then wait
        until every accepted message arrived or `drain_s` passed after
        the last due time."""
        plan, sel = self.plan, selectors.DefaultSelector()
        for name, ls in self.listeners.items():
            ls.setblocking(False)
            sel.register(ls, selectors.EVENT_READ, ("accept", name))
        senders = []
        for c in range(self.connections):
            s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            try:
                s.connect(("127.0.0.1", port))
            except OSError:
                self.refused += 1
                s.close()
                continue
            s.setblocking(False)
            st = {"sock": s, "out": bytearray(), "queue": [], "acked": 0,
                  "rest": b""}
            senders.append(st)
            sel.register(s, selectors.EVENT_READ, ("ack", st))
        sink_rest = {}
        n, nxt = len(plan), 0
        # wait for the aligned start on the wall clock, then run on the
        # monotonic clock
        while time.time() < start_wall:
            time.sleep(min(0.01, max(0.0, start_wall - time.time())))
        t0 = time.monotonic_ns()
        self.t0 = t0
        end_ns = int((plan.last_due_s + drain_s) * 1e9)
        due = plan.due_ns
        while True:
            now = time.monotonic_ns() - t0
            if nxt < n and due[nxt] <= now and senders:
                hi = int(np.searchsorted(due, now, side="right"))
                self.late_ns.append(now - int(due[nxt]))
                for k in range(len(senders)):
                    idx = range(nxt + k, hi, len(senders))
                    st = senders[(nxt + k) % len(senders)]
                    st["out"] += b"".join(plan.lines[i] for i in idx)
                    st["queue"].extend(idx)
                self.sent_ns[nxt:hi] = now
                nxt = hi
            elif nxt < n and not senders:
                self.refused += n - nxt
                nxt = n
            for st in senders:
                if st["out"]:
                    try:
                        k = st["sock"].send(st["out"])
                        del st["out"][:k]
                    except BlockingIOError:
                        pass
            acked = sum(st["acked"] for st in senders)
            if nxt >= n and acked >= n - self.refused:
                ok = self.status == 1
                if (self.recv_ns[ok] > 0).all() or now > end_ns:
                    break
            if now > end_ns + int(5e9):
                break
            pending = any(st["out"] for st in senders)
            wait = 0.0 if pending else (
                max(0.0, (int(due[nxt]) - now) / 1e9) if nxt < n else 0.005)
            for key, _ in sel.select(timeout=min(wait, 0.005)):
                kind, arg = key.data
                if kind == "accept":
                    conn, _ = key.fileobj.accept()
                    conn.setblocking(False)
                    sink_rest[conn] = b""
                    sel.register(conn, selectors.EVENT_READ, ("sink", arg))
                elif kind == "sink":
                    self._on_sink(sel, key.fileobj, arg, sink_rest)
                else:
                    self._on_ack(arg)
        for st in senders:
            sel.unregister(st["sock"])
            st["sock"].close()
        for conn in list(sink_rest):
            sel.unregister(conn)
            conn.close()
        for ls in self.listeners.values():
            sel.unregister(ls)
        sel.close()

    def _on_ack(self, st):
        try:
            data = st["sock"].recv(1 << 16)
        except BlockingIOError:
            return
        if not data:
            return
        now = time.monotonic_ns() - self.t0
        parts = (st["rest"] + data).split(b"\r\n")
        st["rest"] = parts.pop()
        q, a = st["queue"], st["acked"]
        for p in parts:
            i = q[a]
            a += 1
            self.ack_ns[i] = now
            self.status[i] = 1 if p == b"OK" else 2
        st["acked"] = a

    def _on_sink(self, sel, conn, name, rest):
        try:
            data = conn.recv(1 << 18)
        except BlockingIOError:
            return
        if not data:
            sel.unregister(conn)
            conn.close()
            rest.pop(conn, None)
            return
        now = time.monotonic_ns() - self.t0
        parts = (rest[conn] + data).split(b"\r\n")
        rest[conn] = parts.pop()
        plan = self.plan
        for p in parts:
            if conn not in self.live_conns:  # a connection of the measured pipeline
                self.live_conns.add(conn)
                self.sink_connects += 1
            try:
                seq_s, life_s, _due, chk = p.split(b",")
                seq, life = int(seq_s), int(life_s)
            except ValueError:
                self.corrupt += 1
                continue
            if life != plan.lifetime:  # an earlier pipeline's late redelivery
                self.stale += 1
                continue
            if not 0 <= seq < len(plan) or chk.decode() != fill(seq, plan.seed) \
                    or plan.lines[seq].split(b" ", 1)[1] != p + b"\r\n":
                self.corrupt += 1
                continue
            if plan.route[seq] != name:
                self.misrouted += 1
                self.wrong[seq] = True
            if self.recv_ns[seq]:
                self.dups += 1
            else:
                self.recv_ns[seq] = now

    def delivered(self):
        """Accepted messages that reached their own sink intact."""
        return (self.status == 1) & (self.recv_ns > 0) & ~self.wrong

    def burst(self):
        """Burst throughput (msg/s from the first send to the last burst
        delivery) and, for the log, when the burst was acked and drained."""
        b = self.plan.n_burst
        d = self.delivered()[:b]
        recv = self.recv_ns[:b][d]
        if not len(recv):
            return 0.0, {}
        routes = np.array(self.plan.route[:b])
        return len(recv) / ((recv.max() - self.sent_ns[0]) / 1e9), {
            "acked_ms": float(self.ack_ns[:b].max()) / 1e6,
            "first_ms": float(recv.min()) / 1e6,
            "last_ms": {r: float(self.recv_ns[:b][d & (routes == r)].max()) / 1e6
                        for r in SINKS if (d & (routes == r)).any()}}


def summary(runs):
    """Figures over the pipeline lifetimes of one run: counts summed,
    burst throughput the median over lifetimes, latencies pooled."""
    offered = sum(len(r.plan) for r in runs)
    lat, ack, late, tput, bursts = [], [], [], [], []
    for r in runs:
        ok, d = r.status == 1, r.delivered()
        rate = np.arange(len(r.plan)) >= r.plan.n_burst
        lat.append((r.recv_ns[rate & d] - r.plan.due_ns[rate & d]) / 1e6)
        ack.append((r.ack_ns[ok] - r.sent_ns[ok]) / 1e6)
        late.append(np.array(r.late_ns[1:] or [0]) / 1e6)  # [0] is the burst
        t, info = r.burst()
        tput.append(t)
        bursts.append(info)
    lat, ack, late = np.concatenate(lat), np.concatenate(ack), np.concatenate(late)
    return {
        "lifetimes": len(runs), "offered": offered,
        "throttled": sum(int((r.status == 2).sum()) for r in runs),
        "refused": sum(r.refused for r in runs),
        "undelivered": sum(int(((r.status == 1) & (r.recv_ns == 0)).sum()) for r in runs),
        "delivered": sum(int(r.delivered().sum()) for r in runs),
        "dups": sum(r.dups for r in runs),
        "stale": sum(r.stale for r in runs),
        "misrouted": sum(r.misrouted for r in runs),
        "corrupt": sum(r.corrupt for r in runs),
        "sink_connects": sum(r.sink_connects for r in runs),
        "bursts": bursts,
        "burst_msgs_per_s": tput,
        "msgs_per_s": float(np.median(tput)),
        "latency_p50_ms": pct(lat, 0.50),
        "latency_p99_ms": pct(lat, 0.99),
        "latency_samples": int(len(lat)),
        "ack_p50_ms": pct(ack, 0.50),
        "late_p99_ms": pct(late, 0.99),
        "late_max_ms": float(late.max()),
    }


def pct(xs, q):
    """Nearest-rank percentile; 0.0 for no samples."""
    if len(xs) == 0:
        return 0.0
    s = np.sort(np.asarray(xs, dtype=float))
    return float(s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))])


def listen():
    ls = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    ls.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    ls.bind(("127.0.0.1", 0))
    ls.listen(64)
    return ls


def ceiling(seed, connections, n=20000):
    """Loopback self-check: the same send/ack/sink code path against a
    stand-in engine thread that acks every record and forwards its body
    to the route's sink at once. Returns messages per second from the
    first send to the last sink receipt — a lower bound on what the
    generator can offer and count, since the stand-in shares its CPU."""
    plan = Plan(seed, 0, burst=n, rate=1.0, rate_start_s=0.0, rate_s=0.0)
    listeners = {name: listen() for name in SINKS}
    ports = {name: ls.getsockname()[1] for name, ls in listeners.items()}
    rcv = listen()
    stop = threading.Event()

    def engine():
        outs = {name: socket.create_connection(("127.0.0.1", p))
                for name, p in ports.items()}
        conns = [rcv.accept()[0] for _ in range(connections)]
        sel = selectors.DefaultSelector()
        for c in conns:
            sel.register(c, selectors.EVENT_READ, [b""])
        while not stop.is_set():
            for key, _ in sel.select(timeout=0.05):
                data = key.fileobj.recv(1 << 16)
                if not data:
                    sel.unregister(key.fileobj)
                    continue
                parts = (key.data[0] + data).split(b"\r\n")
                key.data[0] = parts.pop()
                fwd = {name: [] for name in SINKS}
                for p in parts:
                    meta, body = p.split(b" ", 1)
                    t = meta.split(b"&")[0][5:].decode()
                    fwd[t if t in ROUTES else DEAD_LETTER].append(body + b"\r\n")
                key.fileobj.sendall(b"OK\r\n" * len(parts))
                for name, bodies in fwd.items():
                    if bodies:
                        outs[name].sendall(b"".join(bodies))
        for s in list(outs.values()) + conns:
            s.close()

    th = threading.Thread(target=engine, daemon=True)
    th.start()
    run = Run(listeners, plan, connections)
    run.drive(rcv.getsockname()[1], time.time(), drain_s=10.0)
    stop.set()
    th.join()
    rcv.close()
    for ls in listeners.values():
        ls.close()
    delivered = run.recv_ns[run.recv_ns > 0]
    if len(delivered) < n:
        return 0.0
    return n / ((delivered.max() - run.sent_ns[0]) / 1e9)
