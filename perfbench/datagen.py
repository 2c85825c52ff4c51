"""Seeded inputs for the benchmark workloads.

Everything the program under test sees is made here from ``--seed``:
the ``events`` and ``documents`` tables (the sf0.1 fixtures' schema and
value distributions; row counts are set per workload in config.json),
Falcon NDJSON feed lines, and the admission micro-batches. The same
seed gives the same inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
OPERATIONS = ["login", "logout", "twoFactorAuthenticate"]

# ids of generated admission documents start here, clear of corpus ids
BATCH_ID_BASE = 1_000_000
EVAL_ID_BASE = 900_000


def _words(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    return list(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def write_tables(seed: int, out_dir: str, sizes: dict) -> list[str] | None:
    """Write the tables named in ``sizes`` (name -> rows) as parquet under
    ``out_dir``. Each table draws from its own seeded stream, so a table
    is the same whichever others are made with it. Returns the documents'
    texts (position = id), if made."""
    os.makedirs(out_dir, exist_ok=True)
    made = {}
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table, made[name] = _MAKERS[name](rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return made.get("documents")


def _events(rng: np.random.Generator, n: int):
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + t0
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), None


def _documents(rng: np.random.Generator, n: int):
    texts = [" ".join(_words(rng, 10, 100)) for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), texts


TABLES = ("events", "documents")
_MAKERS = {"events": _events, "documents": _documents}


def _rewrite(rng: np.random.Generator, text: str, n_edits: int) -> str:
    words = text.split()
    for i in rng.choice(len(words), size=min(n_edits, len(words)),
                        replace=False):
        words[i] = str(rng.choice(VOCAB))
    return " ".join(words)


def admission_batches(seed: int, texts: list[str], n_batches: int,
                      batch_size: int) -> dict:
    """``n_batches`` micro-batches of ``batch_size`` documents against the
    standing corpus ``texts`` (position = id), as (doc_id, text, kind)
    rows. Per batch, by design (each kind at least once, the rest drawn
    with these shares):

    - ~45% unseen documents;
    - ~20% near-dup rewrites of a corpus document (3 token edits);
    - ~15% within-batch duplicates: edited copies of an earlier unseen
      document of the SAME batch (ids stay increasing, so the original
      is the family's minimum id);
    - ~10% rewrites of an eval-suite document (contaminated);
    - ~10% re-crawls of a live corpus document (same id and text).

    Families never cross batches and every corpus document is rewritten
    or re-crawled at most once, so the documented first-seen-wins
    contract (batches in id order reproduce one admit over their
    concatenation) applies.
    """
    rng = np.random.default_rng([seed, len(TABLES)])
    eval_texts = [" ".join(_words(rng, 60, 100)) for _ in range(100)]
    donors = iter(rng.permutation(len(texts)))  # without replacement
    kinds = [(0.45, "unseen"), (0.65, "corpus_rewrite"), (0.80, "batch_copy"),
             (0.90, "eval_copy"), (1.0, "recrawl")]
    batches = []
    next_id = BATCH_ID_BASE
    for _b in range(n_batches):
        rows = []
        fresh: list[str] = []
        for j in range(batch_size):
            u = rng.random()
            kind = (kinds[j][1] if j < len(kinds)
                    else next(k for p, k in kinds if u < p))
            if kind == "unseen":
                t = " ".join(_words(rng, 20, 100))
                fresh.append(t)
            elif kind == "corpus_rewrite":
                t = _rewrite(rng, texts[int(next(donors))], 3)
            elif kind == "batch_copy":
                t = _rewrite(rng, fresh[int(rng.integers(len(fresh)))], 2)
            elif kind == "eval_copy":
                t = _rewrite(rng, eval_texts[int(rng.integers(100))], 1)
            else:
                d = int(next(donors))
                rows.append((d, texts[d], kind))
                continue  # re-crawls keep their corpus id
            rows.append((next_id, t, kind))
            next_id += 1
        batches.append(rows)
    return {"batches": batches, "eval_texts": eval_texts}


def falcon_line(rng, part: int, offset: int,
                created_ms: int) -> tuple[str, dict]:
    """One well-formed Falcon feed line (``rng``: a ``random.Random``) and
    the flattened ``event`` map the connector must post for it:
    AuditKeyValues lifted last-wins, every value stringified. Half the
    lines carry AuditKeyValues; a third of those repeat a key and
    override a payload key."""
    user = f"user{rng.randrange(500)}@example.com"
    success = rng.random() < 0.9
    event = {
        "UserId": user,
        "OperationName": rng.choice(OPERATIONS),
        "Success": success,
        "Partition": part,
    }
    flat = {"UserId": user, "OperationName": event["OperationName"],
            "Success": "true" if success else "false", "Partition": str(part)}
    if rng.random() < 0.5:
        akv = [{"Key": "target_name", "ValueString": user},
               {"Key": "quota", "ValueString": str(rng.randrange(99))}]
        if rng.random() < 0.33:
            akv.append({"Key": "Success", "ValueString": "override"})
            akv.append({"Key": "quota", "ValueString": "last"})
        event["AuditKeyValues"] = akv
        for kv in akv:
            flat[kv["Key"]] = kv["ValueString"]
    line = json.dumps({
        "metadata": {"offset": offset, "eventCreationTime": created_ms,
                     "eventType": "UserActivityAuditEvent"},
        "event": event,
    })
    return line, flat


def malformed_line(offset: int) -> str:
    """A truncated record, as a dropped connection leaves it."""
    return '{"metadata": {"offset": %d, "eventCreation' % offset
