"""``hql_search``: one client, closed loop over a seeded mix of HQL pipes.

Each operation is ``hql.hql(frame, pipe, ...).collect()`` over the
generated ``events`` / ``documents`` tables. Free text and quoted phrases
route through a standing positional ``InvertedTextIndex`` built in
set-up; nothing writes to the index during the loop. The mix is a
seeded shuffle of a deck holding every shape equally often, so seeds
change the order, never the proportions.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from common import SETUP_REPS, Pass, percentile

# shape -> (frame, pipe, registry query whose oracle SQL checks it,
#           routed through the standing text index)
SHAPES = {
    "filter_timechart": ("events", "#event_type = error | timechart(span=1h)",
                         "hql_error_timechart", False),
    "top": ("events", "event_type = purchase | top(user_id, limit=10)",
            "hql_top_purchasers", False),
    "regex_extract": ("events", 'event_type = /^(error|view)$/ '
                      '| regex("\\"k\\": (?<knum>\\\\d+)", field=props) '
                      '| groupBy(knum)', "hql_regex_extract_groupby", False),
    "multi_agg": ("events", "event_type = s* | groupBy(event_type, "
                  "function=[count(), min(value), max(value), avg(value)])",
                  "hql_glob_filter_stats", False),
    "kv_parse": ("kv_lines", "kvParse(raw, keys=[type, user, val]) "
                 "| type = purchase | groupBy(type, function=[count(as=n), "
                 "sum(val, as=sum_value)])", "hql_kv_parse", False),
    "join_subquery": ("events", "event_type = purchase "
                      "| join({event_type = error "
                      "| groupBy(user_id, function=count(as=err_n))}, "
                      "field=user_id, key=user_id) | top(user_id, limit=20)",
                      "hql_join_subquery_error_purchasers", False),
    "free_text": ("documents", "spark | groupBy(lang)",
                  "hql_indexed_free_text", True),
    "phrase": ("documents", '"table scan" | groupBy(lang)',
               "hql_indexed_phrase", True),
}


class Workload:
    def __init__(self, ctx, corpus) -> None:
        self.ctx = ctx
        self.frames: dict = {}
        self.index = None
        self.first_rows: dict = {}  # shape -> (columns, canonical rows)
        self.errors: list[str] = []
        self.rng = random.Random(ctx.seed)
        self.deck: list[str] = []

    def _load(self, root: str) -> None:
        from pyspark.sql import functions as F

        from cses2humio_spark.operators.text_index import InvertedTextIndex
        from cses2humio_spark.sources.catalog import load_table

        spark, data = self.ctx.spark, self.ctx.data_dir
        ev = load_table(spark, data, "events")
        # the registry's kvParse shape: a k=v line rendered from columns
        raw = F.concat_ws(
            " ",
            F.concat(F.lit("type="), F.col("event_type")),
            F.concat(F.lit("user="), F.col("user_id").cast("string")),
            F.concat(F.lit("val="),
                     F.col("value").cast("decimal(12,2)").cast("string")),
        )
        docs = load_table(spark, data, "documents").select(
            "doc_id", "text", "lang")
        shutil.rmtree(root, ignore_errors=True)
        index = InvertedTextIndex(root, n_buckets=64, positional=True)
        with self.ctx.tracer.span("text_index.build"):
            index.build(docs)
        self.frames = {"events": ev, "documents": docs,
                       "kv_lines": ev.select(raw.alias("raw"))}
        self.index = index

    def setup(self) -> list[float]:
        """Open the tables and build the standing text index, several
        times on fresh directories; then run every shape once."""
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self._load(os.path.join(self.ctx.work_dir, f"text_idx{rep}"))
            reps.append(time.perf_counter() - t0)
        self.ctx.tracer.phase = "warm"
        for _ in range(self.ctx.cfg["warm_rounds"]):
            for shape in SHAPES:
                self._query(shape)
        return reps

    def _query(self, shape: str):
        from cses2humio_spark.hql import hql

        tr = self.ctx.tracer
        frame, pipe, _oracle, routed = SHAPES[shape]
        with tr.span("hql.query", shape=shape):
            with tr.span("hql.compile"):
                df = hql(self.frames[frame], pipe,
                         text_index=self.index if routed else None)
            with tr.span("text_index.search" if routed else "hql.execute"):
                rows = df.collect()
        return df.columns, rows

    def _next_shape(self) -> str:
        if not self.deck:
            self.deck = list(SHAPES)
            self.rng.shuffle(self.deck)
        return self.deck.pop()

    def measure(self) -> Pass:
        from cses2humio_spark.queries.compare import canonical_rows

        walls, failed = [], 0
        deadline = time.perf_counter() + self.ctx.seconds
        while time.perf_counter() < deadline:
            shape = self._next_shape()
            t0 = time.perf_counter()
            try:
                cols, rows = self._query(shape)
            except Exception as e:  # noqa: BLE001 - counted and reported
                failed += 1
                self.errors.append(f"hql {shape}: {type(e).__name__}: "
                                   f"{str(e)[:300]}")
                continue
            walls.append(time.perf_counter() - t0)
            # off the clock: every answer must equal the shape's first one,
            # which check() compares with DuckDB
            got = (sorted(cols), canonical_rows(cols, [tuple(r) for r in rows]))
            if self.first_rows.setdefault(shape, got) != got:
                self.errors.append(f"hql {shape}: answer changed between runs")
        n = len(walls) + failed
        p50 = percentile(walls, 50, failed)
        p95 = percentile(walls, 95, failed)
        rate = len(walls) / sum(walls) if walls else 0.0
        return Pass(rate, p50, p95, n, failed, n, {
            "search_p50_s": (p50, "s"),
            "search_p95_s": (p95, "s"),
            "search_queries_per_s": (rate, "1/s"),
            "search_queries": (n, "count"),
            "error_rate": (failed / max(1, n), "ratio"),
        })

    def check(self) -> list[str]:
        """Each shape's answer against DuckDB over the same parquet, with
        the registry's oracle SQL for that shape."""
        from cses2humio_spark.queries.compare import canonical_rows, run_oracle
        from cses2humio_spark.queries.registry import ORACLES
        import cses2humio_spark.queries  # noqa: F401 - fills ORACLES

        errors = list(self.errors)
        for shape, (cols, canon) in sorted(self.first_rows.items()):
            ocols, orows = run_oracle(self.ctx.data_dir,
                                      ORACLES[SHAPES[shape][2]])
            if sorted(ocols) != cols or canonical_rows(ocols, orows) != canon:
                errors.append(f"hql {shape}: differs from the DuckDB oracle")
        if not self.first_rows:
            errors.append("hql: no query completed")
        return errors

    def layers(self) -> dict:
        tr = self.ctx.tracer
        return {
            "hql.compile_s": tr.mean("hql.compile"),
            "text_index.search_s": tr.mean("text_index.search"),
            "text_index.build_s": sum(
                s["dur_s"] for s in tr.by_name("text_index.build", "setup"))
            / max(1, len(tr.by_name("text_index.build", "setup"))),
        }

    def close(self) -> None:
        pass
