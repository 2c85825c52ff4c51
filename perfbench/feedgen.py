"""Load generator for ``connector_feed``: a Falcon-style partitioned HTTP
event feed and a Humio-style bulk-ingest receiver, served from ONE child
process (``python3 perfbench/feedgen.py FD``) on one asyncio loop, plus the
thread that reads commands from the socket ``FD``.

Feed contract (what ``sources.http_feed`` consumes): ``GET /feed/<p>?
offset=N`` answers with an unbounded newline-delimited body starting at
offset N (a direct index into the partition, no scan of earlier lines),
kept open: lines appended later are written as they arrive, and a blank
keep-alive line goes out after every ``keepalive_s`` of idleness. About
1% of event lines are truncated JSON and about 1% are preceded by a
blank line.

Receiver: ``POST /ingest`` takes ``[{"events": [...]}]`` bodies, stamps
each event's arrival time, and compares every sampled envelope against
the flattened event it was generated from.

Events are appended in named groups: ``append`` puts a whole backlog in
at once; ``live`` appends at a fixed rate, each event due at
``start + i / rate`` whatever the consumer does (an open loop).
"""

from __future__ import annotations

import asyncio
import json
import os
import random
import socket
import subprocess
import sys
import threading
import time
from multiprocessing.connection import Connection
from urllib.parse import parse_qs, urlparse

SAMPLE_EVERY = 50  # envelopes compared field by field: offset % 50 == 0
CREATED_BASE_MS = 1_723_500_000_000
TICK_S = 0.002  # the live appender wakes at most this often


class _State:
    def __init__(self, params: dict) -> None:
        import datagen

        self.datagen = datagen
        self.p = params
        self.parts = params["partitions"]
        self.rng = random.Random(params["seed"])
        self.lines: list[list[bytes]] = [[] for _ in range(self.parts)]
        self.group_of: list[list[str | None]] = [[] for _ in range(self.parts)]
        self.changed = [asyncio.Event() for _ in range(self.parts)]
        self.groups: dict[str, dict] = {}
        self.arrival: dict[tuple[int, int], float] = {}
        self.expected_flat: dict[tuple[int, int], tuple] = {}
        self.due: dict[tuple[int, int], float] = {}
        self.dups = 0
        self.unexpected = 0
        self.mismatches: list[str] = []
        self.sampled = 0
        self.posts = 0
        self.events_posted = 0
        self.late_max = 0.0
        self.handlers: set = set()

    # -- feed side -----------------------------------------------------------

    def _make(self, part: int, off: int) -> tuple[bytes, bool]:
        """The line at ``off`` of ``part``: (bytes, well_formed)."""
        created = CREATED_BASE_MS + part * 10**9 + off * 10
        if self.rng.random() < self.p["malformed_share"]:
            line, ok = self.datagen.malformed_line(off), False
        else:
            line, flat = self.datagen.falcon_line(self.rng, part, off, created)
            ok = True
            if off % SAMPLE_EVERY == 0:
                self.expected_flat[(part, off)] = (created, flat)
        data = line.encode() + b"\n"
        if self.rng.random() < self.p["blank_share"]:
            data = b"\n" + data
        return data, ok

    def _plan(self, n: int) -> list[tuple]:
        """The next ``n`` events, round-robin over partitions:
        (part, offset, bytes, well_formed)."""
        base = [len(x) for x in self.lines]
        out = []
        for i in range(n):
            part = i % self.parts
            off = base[part] + i // self.parts
            out.append((part, off) + self._make(part, off))
        return out

    def _push(self, g: dict, gid: str, part: int, off: int, data: bytes,
              ok: bool, due: float | None = None) -> None:
        if off != len(self.lines[part]):
            raise RuntimeError(f"partition {part}: offset {off} out of order")
        self.lines[part].append(data)
        self.group_of[part].append(gid if ok else None)
        if not ok:
            g["malformed"] += 1
            return
        g["expected"] += 1
        if due is not None:
            self.due[(part, off)] = due

    def _notify(self, parts) -> None:
        for part in parts:
            ev, self.changed[part] = self.changed[part], asyncio.Event()
            ev.set()

    def _new_group(self, gid: str) -> dict:
        if any(g["appending"] for g in self.groups.values()):
            raise RuntimeError("a group is still being appended")
        g = {"expected": 0, "malformed": 0, "received": 0, "last": 0.0,
             "start": 0.0, "appending": True}
        self.groups[gid] = g
        return g

    def append(self, gid: str, n: int) -> dict:
        """Put ``n`` events in at once (a backlog)."""
        g = self._new_group(gid)
        plan = self._plan(n)
        g["start"] = time.time()
        for part, off, data, ok in plan:
            self._push(g, gid, part, off, data, ok)
        g["appending"] = False
        self._notify(range(self.parts))
        return self.status(gid)

    async def live(self, gid: str, rate: float, duration: float) -> None:
        """Append ``rate * duration`` events, event i due at start + i/rate
        (lines are made before the clock starts)."""
        g = self._new_group(gid)
        plan = self._plan(int(rate * duration))
        start = time.time() + 0.05
        g["start"] = start
        done = 0
        while done < len(plan):
            await asyncio.sleep(max(0.0, start + done / rate - time.time()))
            now = time.time()
            due_n = min(len(plan), int((now - start) * rate) + 1)
            self.late_max = max(self.late_max, now - (start + done / rate))
            for i in range(done, due_n):
                self._push(g, gid, *plan[i], due=start + i / rate)
            self._notify({plan[i][0] for i in range(done, due_n)})
            done = due_n
            await asyncio.sleep(TICK_S)
        g["appending"] = False

    # -- receiver side -------------------------------------------------------

    def ingest(self, body: bytes) -> None:
        now = time.time()
        self.posts += 1
        host = self.p["host"]
        for chunk in json.loads(body):
            for env in chunk["events"]:
                att = env["attributes"]
                event = att["event"]
                off = att["metadata"]["offset"]
                key = (int(event["Partition"]), off)
                self.events_posted += 1
                if key in self.arrival:
                    self.dups += 1
                    continue
                gid = (self.group_of[key[0]][off]
                       if off < len(self.group_of[key[0]]) else None)
                if gid is None:
                    self.unexpected += 1
                    continue
                self.arrival[key] = now
                g = self.groups[gid]
                g["received"] += 1
                g["last"] = now
                if key in self.expected_flat:
                    self.sampled += 1
                    created, flat = self.expected_flat[key]
                    if (event != flat or env["timestamp"] != created
                            or att.get("@host") != host):
                        self.mismatches.append(
                            f"{key}: got {json.dumps(env)[:300]}")

    # -- reports ---------------------------------------------------------------

    def status(self, gid: str) -> dict:
        g = self.groups[gid]
        return {**g, "posts": self.posts, "events_posted": self.events_posted}

    def latencies(self, gid: str) -> list[float]:
        return [self.arrival[k] - due for k, due in self.due.items()
                if self.group_of[k[0]][k[1]] == gid and k in self.arrival]

    def summary(self) -> dict:
        expected = sum(g["expected"] for g in self.groups.values())
        return {
            "expected": expected,
            "received": len(self.arrival),
            "malformed": sum(g["malformed"] for g in self.groups.values()),
            "dups": self.dups,
            "unexpected": self.unexpected,
            "sampled": self.sampled,
            "mismatches": self.mismatches[:5],
            "n_mismatches": len(self.mismatches),
            "posts": self.posts,
            "late_max_s": self.late_max,
        }


# -- HTTP on asyncio streams ---------------------------------------------------


async def _read_head(reader) -> tuple[str, str, dict]:
    head = await reader.readuntil(b"\r\n\r\n")
    first, *rest = head.decode("latin-1").split("\r\n")
    method, target, _version = first.split(" ", 2)
    headers = {}
    for h in rest:
        if ":" in h:
            k, v = h.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return method, target, headers


async def _serve_feed(state: _State, reader, writer, target: str) -> None:
    u = urlparse(target)
    part = int(u.path.rstrip("/").rsplit("/", 1)[-1])
    pos = int(parse_qs(u.query).get("offset", ["0"])[0])
    writer.write(b"HTTP/1.0 200 OK\r\nContent-Type: application/x-ndjson"
                 b"\r\n\r\n")
    hung_up = asyncio.ensure_future(reader.read(1))  # EOF when client closes
    lines = state.lines[part]
    try:
        while not hung_up.done():
            if pos < len(lines):
                end = min(len(lines), pos + 1000)
                writer.write(b"".join(lines[pos:end]))
                pos = end
                await writer.drain()
                continue
            changed = asyncio.ensure_future(state.changed[part].wait())
            done, _ = await asyncio.wait(
                {changed, hung_up}, timeout=state.p["keepalive_s"],
                return_when=asyncio.FIRST_COMPLETED)
            changed.cancel()
            if not done:
                writer.write(b"\n")  # keep-alive while idle
                await writer.drain()
    except (ConnectionError, OSError):
        pass  # the consumer closed the window
    finally:
        hung_up.cancel()


async def _serve_ingest(state: _State, reader, writer, headers) -> None:
    body = await reader.readexactly(int(headers.get("content-length", 0)))
    state.ingest(body)
    writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n"
                 b"Connection: close\r\n\r\n")
    await writer.drain()


async def _handle(state: _State, reader, writer) -> None:
    state.handlers.add(asyncio.current_task())
    try:
        method, target, headers = await _read_head(reader)
        if method == "GET" and target.startswith("/feed/"):
            await _serve_feed(state, reader, writer, target)
        elif method == "POST" and target.startswith("/ingest"):
            await _serve_ingest(state, reader, writer, headers)
        else:
            writer.write(b"HTTP/1.1 404 Not Found\r\nContent-Length: 0"
                         b"\r\n\r\n")
    except (asyncio.IncompleteReadError, ConnectionError, OSError):
        pass
    finally:
        writer.close()
        state.handlers.discard(asyncio.current_task())


def _main(conn) -> None:
    """Generator process: serve until told to stop. The first message on
    ``conn`` is the parameters; commands follow as (name, *args) and are
    answered in order."""
    params = conn.recv()

    async def run() -> None:
        state = _State(params)
        loop = asyncio.get_running_loop()
        stop = asyncio.Event()
        tasks = set()
        server = await asyncio.start_server(
            lambda r, w: _handle(state, r, w), "127.0.0.1", 0)
        conn.send(server.sockets[0].getsockname()[1])

        def command(name, *args):
            try:
                if name == "append":
                    reply = state.append(*args)
                elif name == "live":
                    task = loop.create_task(state.live(*args))
                    tasks.add(task)
                    task.add_done_callback(tasks.discard)
                    reply = True
                elif name == "status":
                    reply = state.status(*args)
                elif name == "tips":
                    reply = [len(x) for x in state.lines]
                elif name == "latencies":
                    reply = state.latencies(*args)
                elif name == "summary":
                    reply = state.summary()
                elif name == "stop":
                    stop.set()
                    reply = True
                else:
                    raise ValueError(f"unknown command {name!r}")
            except Exception as e:  # noqa: BLE001 - report to the caller
                reply = e
            conn.send(reply)

        def reader() -> None:
            while True:
                try:
                    msg = conn.recv()
                except EOFError:
                    msg = ("stop",)
                loop.call_soon_threadsafe(command, *msg)
                if msg[0] == "stop":
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        async with server:
            await stop.wait()
        pending = list(tasks) + list(state.handlers)
        for task in pending:
            task.cancel()
        await asyncio.gather(*pending, return_exceptions=True)
        t.join(timeout=5)

    asyncio.run(run())


class FeedGenerator:
    """Handle on the generator process; call ``close()`` to stop it.

    The process is a plain child started with ``subprocess`` (not
    ``multiprocessing``, whose spawn start also leaves a resource-tracker
    process running until the parent exits), so ``close()`` can stop it
    and wait for it."""

    def __init__(self, params: dict) -> None:
        ours, theirs = socket.socketpair()
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             str(theirs.fileno())],
            pass_fds=(theirs.fileno(),))
        theirs.close()
        self._conn = Connection(ours.detach())
        self._conn.send(params)
        if not self._conn.poll(30):
            self.close()
            raise RuntimeError("feed generator did not start")
        self.port = self._conn.recv()
        self.parts = params["partitions"]

    def urls(self) -> str:
        return ",".join(f"http://127.0.0.1:{self.port}/feed/{p}"
                        for p in range(self.parts))

    @property
    def ingest_url(self) -> str:
        return f"http://127.0.0.1:{self.port}/ingest"

    def call(self, name: str, *args):
        self._conn.send((name,) + args)
        reply = self._conn.recv()
        if isinstance(reply, Exception):
            raise reply
        return reply

    def close(self) -> None:
        if self._proc.poll() is None:
            try:
                self.call("stop")
            except (EOFError, OSError):
                pass
            try:
                self._proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=10)
        self._conn.close()


if __name__ == "__main__":
    _main(Connection(int(sys.argv[1])))
