"""``connector_feed``: the reference connector's own job.

``falcon_feed`` source -> ``streaming.pipeline.run_pipeline`` (parse ->
enrich) -> ``HttpBulkSink`` posting to the generator's ingest receiver.
One streaming query runs for the whole measurement; before it is timed,
it drains ``WARM_WINDOWS`` full read windows (partitions x
``max_events_per_partition`` lines each). Each pass has two phases:

1. backlog: ``backlog_windows`` full read windows are appended at once;
   throughput is the median, over the micro-batches that drain them, of
   the events each processed per second of its trigger (read, plan,
   parse, enrich, post, commit), as Spark's progress log reports it;
2. live, open loop: events are appended at ``live_rate`` for
   ``--seconds``, each due at its scheduled instant; freshness is arrival
   minus due. The rate keeps every partition busier than ``quiet_ms``,
   so a live window closes only at the cap, and freshness shows it.

Events still missing when a phase's grace time runs out count as failed
and as slower than every percentile.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from common import SETUP_REPS, Pass, percentile
from feedgen import FeedGenerator

GRACE_S = 30  # how long a phase waits for its last events
# full windows drained off the clock before the first pass: a fresh JVM's
# per-micro-batch rate climbs over its first three or four large windows
# (the first runs up to 1.7 times slower than the fifth)
WARM_WINDOWS = 3
RECENT_PROGRESS = 100  # spark.sql.streaming.numRecentProgressUpdates

def _make_post(url: str):
    """The sink's ``post_fn``: one HTTP POST per bulk chunk. A nested,
    self-contained function, so it ships to Python workers by value."""

    def post(body) -> None:
        import json as _json
        import urllib.request as _req

        data = _json.dumps(body).encode()
        request = _req.Request(url, data=data,
                               headers={"Content-Type": "application/json"})
        with _req.urlopen(request, timeout=30) as resp:
            resp.read()

    return post


class Workload:
    def __init__(self, ctx, corpus) -> None:
        cfg = ctx.cfg
        self.ctx = ctx
        self.cfg = cfg
        self.gen = FeedGenerator({
            "seed": ctx.seed,
            "partitions": cfg["partitions"],
            "keepalive_s": cfg["keepalive_ms"] / 1000.0,
            "malformed_share": cfg["malformed_share"],
            "blank_share": cfg["blank_share"],
            "host": "perfbench",
        })
        self.query = None
        self.queries = []
        self.rows_in = 0  # lines the stopped queries read (progress sums)
        self.passes = 0
        self.sink_walls: list[float] = []  # appended by the stream thread
        self.errors: list[str] = []
        self.last_pass: dict = {}

    # -- the system under test ------------------------------------------------

    def _start(self, name: str, tips: list[int]):
        """Start a fresh query reading each partition from ``tips``."""
        from cses2humio_spark.sources import http_feed
        from cses2humio_spark.streaming.pipeline import run_pipeline
        from cses2humio_spark.streaming.sinks import HttpBulkSink

        spark, cfg = self.ctx.spark, self.cfg
        http_feed.register(spark)
        lines = (
            spark.readStream.format("falcon_feed")
            .option("urls", self.gen.urls())
            .option("quiet_ms", str(cfg["quiet_ms"]))
            .option("max_events_per_partition",
                    str(cfg["max_events_per_partition"]))
            .option("start_offsets",
                    json.dumps({str(p): o for p, o in enumerate(tips)}))
            .load()
        )
        sink = HttpBulkSink(bulk_max_size=cfg["bulk_max_size"],
                            post_fn=_make_post(self.gen.ingest_url))

        def timed_sink(batch_df, batch_id) -> None:
            t0 = time.perf_counter()
            sink(batch_df, batch_id)
            self.sink_walls.append(time.perf_counter() - t0)

        q = run_pipeline(
            lines, timed_sink,
            os.path.join(self.ctx.work_dir, f"ckpt-{name}"),
            app_id="perfbench", host="perfbench")
        self.queries.append(q)
        return q

    def _stop(self, q) -> None:
        """Let ``q`` finish what the feed holds, then stop it, keeping its
        input-row count."""
        q.processAllAvailable()
        self.rows_in += sum(p.numInputRows for p in q.recentProgress)
        if len(q.recentProgress) >= RECENT_PROGRESS:
            self.errors.append("connector: progress history overflowed; the "
                               "malformed count cannot be checked")
        q.stop()

    def _wait(self, gid: str, timeout_s: float) -> dict:
        """Poll the generator until every well-formed event of ``gid`` has
        arrived, the group is complete, or ``timeout_s`` passes."""
        deadline = time.time() + timeout_s
        while True:
            st = self.gen.call("status", gid)
            if (not st["appending"] and st["received"] >= st["expected"]) \
                    or time.time() > deadline:
                return st
            for q in self.queries:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.02)

    # -- benchmark steps ---------------------------------------------------------

    def setup(self) -> list[float]:
        """Bring the connector up several times: each time a fresh query on
        a fresh checkpoint, from append of a small first window to its last
        arrival. The later set-ups run warm; the last query keeps running
        and, off the clock, drains ``WARM_WINDOWS`` full windows before
        the measurement."""
        reps = []
        cfg = self.cfg
        for rep in range(SETUP_REPS):
            if self.query is not None:
                self._stop(self.query)
            gid = f"setup{rep}"
            tips = self.gen.call("tips")
            self.gen.call("append", gid, cfg["setup_events"])
            t0 = time.time()
            self.query = self._start(gid, tips)
            st = self._wait(gid, GRACE_S)
            if st["received"] < st["expected"]:
                raise RuntimeError(f"set-up {rep}: {st['received']} of "
                                   f"{st['expected']} events arrived")
            reps.append(st["last"] - t0)
        self.gen.call("append", "warm", WARM_WINDOWS * self._window_events())
        st = self._wait("warm", GRACE_S)
        if st["received"] < st["expected"]:
            raise RuntimeError(f"warm-up: {st['received']} of "
                               f"{st['expected']} events arrived")
        return reps

    def _window_events(self) -> int:
        """Lines in one full read window over every partition."""
        return self.cfg["partitions"] * self.cfg["max_events_per_partition"]

    def measure(self) -> Pass:
        cfg, gen = self.cfg, self.gen
        k = self.passes
        self.passes += 1
        q = self.query
        q.processAllAvailable()  # settle the progress log of what came before
        batch0 = len(q.recentProgress)
        sinks0 = len(self.sink_walls)
        jobs0 = set(self.ctx.spark.sparkContext.statusTracker()
                    .getJobIdsForGroup(str(q.runId)))
        posts0 = gen.call("summary")["posts"]
        t_pass = time.perf_counter()

        # phase 1: a backlog appended at once
        gen.call("append", f"backlog{k}",
                 cfg["backlog_windows"] * self._window_events())
        st = self._wait(f"backlog{k}", GRACE_S)
        drain_rate = st["received"] / max(1e-9, st["last"] - st["start"])
        missing = st["expected"] - st["received"]
        attempted, received = st["expected"], st["received"]
        q.processAllAvailable()  # off the clock: settle the progress log
        windows = [p.processedRowsPerSecond
                   for p in q.recentProgress[batch0:] if p.numInputRows]
        backlog_rate = statistics.median(windows) if windows else 0.0

        # phase 2: open loop at a fixed rate
        live_s = self.ctx.seconds
        gen.call("live", f"live{k}", cfg["live_rate"], live_s)
        time.sleep(live_s)
        st = self._wait(f"live{k}", GRACE_S)
        lat = gen.call("latencies", f"live{k}")
        missing += st["expected"] - st["received"]
        attempted += st["expected"]
        received += st["received"]
        wall = time.perf_counter() - t_pass
        q.processAllAvailable()  # off the clock: settle the progress log

        p50 = percentile(lat, 50, st["expected"] - st["received"])
        p99 = percentile(lat, 99, st["expected"] - st["received"])
        progress = [p for p in q.recentProgress[batch0:] if p.numInputRows]
        self.last_pass = {
            "progress": progress,
            "sink_walls": self.sink_walls[sinks0:],
            "posts": st["posts"] - posts0,
            "events": sum(p.numInputRows for p in progress),
            "received": received,
        }
        tr = self.ctx.tracer
        if tr.enabled:  # after the pass: nothing here runs on the clock
            # spans from the stream's own timers and the sink wrapper: per
            # micro-batch, the read (latestOffset) and the sink call
            top = tr.record("streaming.query", wall, group=str(q.runId))
            for p, sink_s in zip(progress, self.last_pass["sink_walls"]):
                batch = tr.record("streaming.pipeline.batch",
                                  p.durationMs["triggerExecution"] / 1e3, top)
                tr.record("sources.http_feed.read",
                          p.durationMs.get("latestOffset", 0) / 1e3, batch)
                tr.record("streaming.sinks.post", sink_s, batch)
            tr.attribute_spark(skip_jobs=jobs0)
        return Pass(backlog_rate, p50, p99, attempted, missing,
                    max(1, len(progress)), {
                        "connector_backlog_events_per_s": (backlog_rate, "1/s"),
                        "connector_backlog_windows": (len(windows), "count"),
                        "connector_backlog_drain_events_per_s":
                            (drain_rate, "1/s"),
                        "connector_live_freshness_p50_s": (p50, "s"),
                        "connector_live_freshness_p99_s": (p99, "s"),
                        "connector_live_events": (st["expected"], "count"),
                        "error_rate": (missing / max(1, attempted), "ratio"),
                    })

    def check(self) -> list[str]:
        """Delivered set equals the generated well-formed set; the engine
        dropped exactly the malformed lines; sampled envelopes carry the
        AuditKeyValues flattened last-wins."""
        self._stop(self.query)
        errors = list(self.errors)
        s = self.gen.call("summary")
        if s["received"] != s["expected"]:
            errors.append(f"connector: {s['received']} of {s['expected']} "
                          "well-formed events delivered (short drain)")
        if s["dups"] or s["unexpected"]:
            errors.append(f"connector: {s['dups']} duplicate and "
                          f"{s['unexpected']} unexpected events posted")
        if s["n_mismatches"] or not s["sampled"]:
            errors.append(f"connector: {s['n_mismatches']} of {s['sampled']} "
                          f"sampled envelopes wrong: {s['mismatches']}")
        dropped = self.rows_in - s["received"]
        if dropped != s["malformed"]:
            errors.append(f"connector: engine dropped {dropped} lines, "
                          f"generated {s['malformed']} malformed")
        self.summary = s
        return errors

    def layers(self) -> dict:
        lp = self.last_pass
        prog = lp["progress"]
        n = max(1, len(prog))

        def mean_ms(*keys):
            return sum(p.durationMs.get(k, 0) for p in prog
                       for k in keys) / n / 1000.0

        return {
            "sources.http_feed.read_s": mean_ms("latestOffset"),
            "sources.http_feed.events_per_batch": lp["events"] / n,
            "streaming.pipeline.add_batch_s": mean_ms("addBatch"),
            "streaming.pipeline.plan_s": mean_ms("queryPlanning"),
            "streaming.pipeline.wal_s": mean_ms("walCommit", "commitOffsets"),
            "streaming.pipeline.batches": len(prog),
            "streaming.pipeline.malformed_dropped": lp["events"] - lp["received"],
            "streaming.sinks.post_s":
                sum(lp["sink_walls"]) / max(1, len(lp["sink_walls"])),
            "streaming.sinks.posts": lp["posts"],
            "streaming.sinks.events_per_post":
                lp["received"] / max(1, lp["posts"]),
            "generator.late_max_s": self.summary["late_max_s"],
        }

    def close(self) -> None:
        for q in self.queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception:  # noqa: BLE001 - best effort at shutdown
                pass
        self.gen.close()
