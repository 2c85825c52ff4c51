"""``admission``: seeded micro-batches through the LLM-data admission path.

Per batch, in order: ``MinHashIndex.admit_and_ingest`` (with the eval
suite), ``InvertedTextIndex`` ingest of the admitted documents, a BM25
``search``, and one HQL
free-text pipe over the corpus routed through that same text index (the
read path beside the writes). Index builds over the standing corpus are
set-up. One client, closed loop.

Each pass times the same ``BATCHES`` batches, fed in order to an index
set of its own that was built like the others and not touched since, so
the untraced and the traced pass see equal batches on equal index
states. The batch count is fixed rather than taken from ``--seconds``:
one batch takes 10 to 20 seconds on four cores, and the decision checks
need the same batches in every run of a seed; two keep a traced run,
which makes two passes, within its time limit.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F

import datagen
from common import SETUP_REPS, Pass, percentile
from cses2humio_spark.hql import hql

# free text over the corpus, routed through the text index the batches
# write to; checked with the registry's oracle for the same pipe
HQL_PIPE = "spark | groupBy(lang)"
HQL_ORACLE = "hql_indexed_free_text"
BATCHES = 2  # timed per pass
REASONS = ("admitted", "corpus_dup", "batch_dup", "contaminated",
           "already_indexed")
DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, rows):
    return spark.createDataFrame([(r[0], r[1]) for r in rows], DOC_SCHEMA)


def _decisions(rows) -> dict:
    return {r.doc_id: (r.reason, r.partner) for r in rows}


def _partner_map(decisions: dict) -> dict:
    """id -> surviving partner (itself when kept), the form in which
    streamed and one-shot admission must agree (reasons differ by arrival:
    corpus_dup vs batch_dup)."""
    return {i: (p if p is not None else i) for i, (_r, p) in decisions.items()}


def _compare(streamed: dict, one_shot: dict) -> list[str]:
    """Documented first-seen-wins contract: batches fed in id order decide
    as one admit over their concatenation."""
    errors = []
    if _partner_map(streamed) != _partner_map(one_shot):
        diff = sorted(set(_partner_map(streamed).items())
                      ^ set(_partner_map(one_shot).items()))[:6]
        errors.append("admission: streamed decisions differ from one-shot "
                      f"admit_batch: {diff}")
    for reason in ("contaminated", "already_indexed"):
        a = {i for i, (r, _p) in streamed.items() if r == reason}
        b = {i for i, (r, _p) in one_shot.items() if r == reason}
        if a != b:
            errors.append(f"admission: {reason} sets differ")
    return errors


def _check_hql(data_dir: str, cols: list, rows: list) -> list[str]:
    from cses2humio_spark.queries.compare import canonical_rows, run_oracle
    from cses2humio_spark.queries.registry import ORACLES
    import cses2humio_spark.queries  # noqa: F401 - fills ORACLES

    ocols, orows = run_oracle(data_dir, ORACLES[HQL_ORACLE])
    if sorted(ocols) != sorted(cols) or (
            canonical_rows(ocols, orows) != canonical_rows(cols, rows)):
        return [f"admission: hql {HQL_PIPE!r} differs from the DuckDB oracle"]
    return []


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    def __init__(self, ctx, corpus) -> None:
        from cses2humio_spark.sources.catalog import load_table

        self.ctx = ctx
        spark, cfg = ctx.spark, ctx.cfg
        gen = datagen.admission_batches(
            ctx.seed, corpus, BATCHES, cfg["batch_size"])
        self.batch_rows = gen["batches"]
        self.docs_lang = load_table(spark, ctx.data_dir, "documents").select(
            "doc_id", "text", "lang")
        self.docs = self.docs_lang.select("doc_id", "text")
        # corpus_docs must cover every id that can be live in the index:
        # the standing corpus plus every batch doc
        self.corpus_docs = self.docs.unionByName(_docs(
            spark, [r for b in gen["batches"] for r in b
                    if r[2] != "recrawl"]))
        self.eval_docs = spark.createDataFrame(
            [(datagen.EVAL_ID_BASE + i, t)
             for i, t in enumerate(gen["eval_texts"])], DOC_SCHEMA)
        self.frames = [_docs(spark, b) for b in self.batch_rows]
        self.sets: list[dict] = []
        self.idx = None  # the index set of the latest pass
        self.passes: list[dict] = []  # streamed decisions, one dict per pass
        self.hql_answer = None
        self.errors: list[str] = []

    # -- the system under test ------------------------------------------------

    def _build(self, root: str) -> dict:
        """Build both indexes over the standing corpus in ``root``."""
        from cses2humio_spark.operators.dedup_index import MinHashIndex
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        tr, cfg = self.ctx.tracer, self.ctx.cfg
        shutil.rmtree(root, ignore_errors=True)
        idx = {
            "minhash": MinHashIndex(os.path.join(root, "minhash"),
                                    **cfg["minhash"]),
            "text": InvertedTextIndex(os.path.join(root, "text"),
                                      n_buckets=cfg["text_buckets"]),
            "root": root,
        }
        with tr.span("setup.index_build"):
            with tr.span("dedup_index.minhash_build"):
                idx["minhash"].build(self.docs)
            with tr.span("text_index.build"):
                idx["text"].build(self.docs)
        return idx

    def _admit(self, idx: dict, docs, batch_id: int) -> dict:
        """One operation: decide, ingest and search one micro-batch."""
        tr, cfg = self.ctx.tracer, self.ctx.cfg
        with tr.span("admission.batch"):
            with tr.span("dedup_index.minhash_admit"):
                d_text = idx["minhash"].admit_and_ingest(
                    docs, batch_id, corpus_docs=self.corpus_docs,
                    eval_docs=self.eval_docs, **cfg["text_admit"])
                text_rows = d_text.collect()
            admitted = docs.join(
                d_text.filter(F.col("reason") == "admitted").select("doc_id"),
                on="doc_id", how="left_semi")
            with tr.span("text_index.ingest"):
                idx["text"](admitted, batch_id)
            with tr.span("text_index.search"):
                hits = idx["text"].search(self.ctx.spark, cfg["search_terms"],
                                          k=10).collect()
            with tr.span("hql.query"):
                with tr.span("hql.compile"):
                    found = hql(self.docs_lang, HQL_PIPE,
                                text_index=idx["text"])
                with tr.span("hql.execute"):
                    found_rows = found.collect()
        if not hits:
            raise RuntimeError(f"batch {batch_id}: BM25 search returned nothing")
        return {
            "decisions": _decisions(text_rows),
            "hql": (found.columns, [tuple(r) for r in found_rows]),
        }

    # -- benchmark steps ---------------------------------------------------------

    def setup(self) -> list[float]:
        """Build both indexes over the standing corpus on fresh
        directories: one set for the warm-up and one for each pass, so
        SETUP_REPS sets, and one more for the traced pass of a traced run
        (its build time counts only in the per-layer build figures). Then
        warm up on the first set: one operation over the
        concatenation of the batches runs every call a pass times
        (admit_and_ingest's checkpoint and segment write, text ingest,
        BM25, HQL). Its decisions, taken by admit_batch against the index
        as built, are the one-shot decisions the check compares with."""
        tr, reps = self.ctx.tracer, []
        for rep in range(SETUP_REPS + tr.enabled):
            tr.phase = "setup"
            t0 = time.perf_counter()
            self.sets.append(self._build(
                os.path.join(self.ctx.work_dir, f"adm_idx{rep}")))
            reps.append(time.perf_counter() - t0)
        del reps[SETUP_REPS:]
        tr.phase = "warm"
        warm = self._admit(self.sets[0], _docs(
            self.ctx.spark, [r for b in self.batch_rows for r in b]), 1)
        self.one_shot = warm["decisions"]
        self.hql_answer = warm["hql"]
        return reps

    def measure(self) -> Pass:
        """One client, closed loop: the next batch as soon as the previous
        decision is in. Batches left unrun after a failure count as
        failed too."""
        self.idx = self.sets[1 + len(self.passes)]
        self.idx["bytes_built"] = _dir_bytes(self.idx["root"])
        walls, n_docs, streamed = [], 0, {}
        for b, frame in enumerate(self.frames):
            t0 = time.perf_counter()
            try:
                dec = self._admit(self.idx, frame, b + 1)
            except Exception as e:  # noqa: BLE001 - counted and reported
                self.errors.append(f"admission batch {b + 1}: "
                                   f"{type(e).__name__}: {str(e)[:300]}")
                break  # the index state after a failed batch is unknown
            walls.append(time.perf_counter() - t0)
            n_docs += len(self.batch_rows[b])
            # off the clock: the corpus query's answer never changes, as
            # admitted docs are not rows of the frame it searches
            if dec["hql"] != self.hql_answer:
                self.errors.append(f"hql over the admission index changed "
                                   f"after batch {b + 1}")
            streamed.update(dec["decisions"])
        self.passes.append(streamed)
        failed = BATCHES - len(walls)
        docs_per_s = n_docs / sum(walls) if walls else 0.0
        p50 = percentile(walls, 50, failed)
        tail = percentile(walls, 90, failed)
        return Pass(docs_per_s, p50, tail, BATCHES, failed, BATCHES, {
            "admission_docs_per_s": (docs_per_s, "1/s"),
            "admission_batch_p50_s": (p50, "s"),
            "admission_batch_p90_s": (tail, "s"),
            "error_rate": (failed / BATCHES, "ratio"),
        })

    def check(self) -> list[str]:
        if self.errors:
            return self.errors
        streamed = self.passes[0]
        errors = _compare(streamed, self.one_shot)
        if any(p != streamed for p in self.passes[1:]):
            errors.append("admission: the traced pass decided differently "
                          "from the untraced pass on an equal index")
        errors += _check_hql(self.ctx.data_dir, *self.hql_answer)
        counts = Counter(r for r, _p in streamed.values())
        missing = [r for r in REASONS if counts[r] == 0]
        if missing:
            errors.append(f"admission: no {missing} decision in the batches")
        return errors

    def layers(self) -> dict:
        tr, root = self.ctx.tracer, self.idx["root"]
        counts = Counter(r for r, _p in self.passes[-1].values())

        def build_s(name):
            spans = tr.by_name(name, "setup")
            return sum(s["dur_s"] for s in spans) / max(1, len(spans))

        return {
            "dedup_index.minhash_admit_s": tr.mean("dedup_index.minhash_admit"),
            "dedup_index.minhash_build_s": build_s("dedup_index.minhash_build"),
            "text_index.build_s": build_s("text_index.build"),
            "text_index.ingest_s": tr.mean("text_index.ingest"),
            "text_index.search_s": tr.mean("text_index.search"),
            "hql.compile_s": tr.mean("hql.compile"),
            **{f"dedup_index.{r}": counts[r] for r in REASONS},
            "index_store.segments": sum(
                name.startswith("seg=") and not name.endswith(".staging")
                for k in ("minhash", "text")
                for name in os.listdir(os.path.join(root, k))),
            "index_store.bytes_per_admitted_doc":
                (_dir_bytes(root) - self.idx["bytes_built"])
                / max(1, counts["admitted"]),
        }

    def close(self) -> None:
        pass
