"""Seeded daily churn for the ``daily_cycles`` workload.

A pure-Python model of the published feed table and of the released
table. Each simulated day it writes one JSON-lines feed and returns the
exact counts the engine's ``FeedImportReport`` and ``ReleaseCycleReport``
must report for that day — the model applies the same routing rules as
``pipelines.feed_import`` (change classes, quarantine, corrupt lines,
annotation only of inserts and payload changes) and
``pipelines.release`` (batch completeness, the fail cascade, the
resequencing gate, the <80% suspicious-batch alert), so a mismatch is an
engine bug, not noise.

Rows are the corpus documents replicated with per-copy key offsets (as
``scripts/make_sf1.py`` replicates the corpus), with the lower-cased
letters of the text as payload. The seed picks each day's churn counts and
rows; the same seed yields byte-identical feeds.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq

COPY_OFFSET = 1_000_000  # corpus doc_ids stay below this
QUARANTINE_BASE = 10**12  # key space of rows that never validate
N_BATCHES = 50
DUP_ATTEMPT_OFFSET = 1000  # attempt_id of a planted worse duplicate
RELEASE_RATIO = 0.9  # resequencing gate: new < 0.9 * best released


@dataclass(frozen=True)
class FeedCounts:
    """What ``run_feed_import`` must report for one day."""

    version: int
    n_corrupt: int
    n_quarantined: int
    n_insert: int
    n_metadata_changed: int
    n_payload_changed: int
    n_unchanged: int
    n_delete: int
    n_annotated: int
    n_tool_failed: int = 0


@dataclass(frozen=True)
class ReleaseCounts:
    """What ``run_release_cycle`` must report for one day."""

    version: int
    n_candidates: int
    n_held_back: int
    n_failed: int
    n_submit_new: int
    n_submit_update: int
    n_tombstoned: int
    n_suspicious_batches: int


@dataclass(frozen=True)
class Day:
    index: int
    feed_dir: str
    feed_rows: int  # parsed + corrupt lines in the feed
    feed: FeedCounts
    dup_keys: tuple[int, ...]  # candidates that get a worse second attempt
    phantom_batches: tuple[int, ...]  # batches expecting a never-arriving key
    release: ReleaseCounts
    published_rows: int  # feed table rows after the import
    released_rows: int  # released table rows after the release cycle


def payload_of(text: str) -> str:
    """``regexp_replace(lower(text), '[^a-z]', '')``."""
    return "".join(ch for ch in text.lower() if "a" <= ch <= "z")


def candidate_quality(key: int, payload: str) -> tuple[int, int, int]:
    """(batch, consensus_n, diag) of one release candidate — the same
    expressions the workload builds in Spark."""
    return key % N_BATCHES, payload.count("a") % 97 + 10, len(payload) % 89 + 10


def base_rows(corpus_dir: str, n_rows: int) -> list[tuple[int, str, str]]:
    """(doc_id, src, payload) for ``n_rows`` rows: the documents table
    replicated with key offsets ``copy * COPY_OFFSET``."""
    docs = pq.read_table(
        os.path.join(corpus_dir, "documents.parquet"), columns=["doc_id", "source", "text"]
    ).to_pydict()
    one = [(int(k), s, payload_of(t)) for k, s, t in zip(docs["doc_id"], docs["source"], docs["text"])]
    rows = []
    copy = 0
    while len(rows) < n_rows:
        rows.extend((k + copy * COPY_OFFSET, s, p) for k, s, p in one[: n_rows - len(rows)])
        copy += 1
    return rows


class ChurnModel:
    """Day-by-day feed generator and expected-count model.

    ``initial_rows()`` is the table the days start from (published as
    versions 1..``prior_versions`` before day 1). ``next_day(out_dir)``
    writes the next day's feed under ``out_dir`` and advances the model as
    if the engine imported it (version ``day + prior_versions``) and
    released its annotated rows (released-table version ``day``)."""

    def __init__(self, corpus_dir: str, n_rows: int, seed: int, prior_versions: int = 1):
        self.prior_versions = prior_versions
        self.rng = random.Random(seed)
        rows = base_rows(corpus_dir, n_rows)
        self.rng.shuffle(rows)
        n_reserve = len(rows) // 10
        self.reserve = rows[:n_reserve]  # future inserts
        # key -> (src, payload); insertion order keeps sampling deterministic
        self.table: dict[int, tuple[str, str]] = {k: (s, p) for k, s, p in rows[n_reserve:]}
        self.released: dict[int, int] = {}  # key -> consensus_n
        self.day = 0

    def initial_rows(self) -> list[tuple[int, str, str]]:
        return [(k, s, p) for k, (s, p) in self.table.items()]

    def _take(self, keys: list[int], k: int) -> list[int]:
        picked = self.rng.sample(keys, k)
        chosen = set(picked)
        keys[:] = [x for x in keys if x not in chosen]
        return picked

    def next_day(self, out_dir: str) -> Day:
        self.day += 1
        d = self.day
        rng = self.rng
        n_live = len(self.table)
        share = lambda lo, hi: max(1, int(n_live * rng.uniform(lo, hi)))  # noqa: E731
        n_ins = min(len(self.reserve), share(0.01, 0.02))
        pool = list(self.table)
        deletes = self._take(pool, share(0.005, 0.01))
        meta = self._take(pool, share(0.01, 0.02))
        pay = self._take(pool, share(0.01, 0.02))
        gone = set(deletes)
        feed_rows = {k: v for k, v in self.table.items() if k not in gone}
        for k in meta:
            feed_rows[k] = (f"upd{d}", feed_rows[k][1])
        for k in pay:
            feed_rows[k] = (feed_rows[k][0], feed_rows[k][1] + "a" * rng.randint(1, 3))
        new = self.reserve[:n_ins]
        self.reserve = self.reserve[n_ins:]
        inserts = [k for k, _, _ in new]
        feed_rows.update({k: (s, p) for k, s, p in new})
        n_quar = max(1, int(len(feed_rows) * rng.uniform(0.002, 0.006)))
        quarantined = [QUARANTINE_BASE + d * COPY_OFFSET + i for i in range(n_quar)]

        lines = [
            json.dumps({"doc_id": k, "src": s, "payload": p}, separators=(",", ":"))
            for k, (s, p) in feed_rows.items()
        ]
        lines += [
            json.dumps({"doc_id": k, "src": None, "payload": "quarantined"}, separators=(",", ":"))
            for k in quarantined
        ]
        rng.shuffle(lines)
        feed_dir = os.path.join(out_dir, f"day{d:03d}")
        os.makedirs(feed_dir, exist_ok=True)
        with open(os.path.join(feed_dir, "part-00000.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # The corrupt line sits in a trailing file so the drift check's head
        # sample sees parsed lines only ('zz-' sorts after 'part-').
        with open(os.path.join(feed_dir, "zz-corrupt.jsonl"), "w") as fh:
            fh.write('{"doc_id": %d, "payload": \n' % rng.randrange(COPY_OFFSET))

        annotated = inserts + pay
        feed = FeedCounts(
            version=d + self.prior_versions,
            n_corrupt=1,
            n_quarantined=n_quar,
            n_insert=len(inserts),
            n_metadata_changed=len(meta),
            n_payload_changed=len(pay),
            n_unchanged=n_live - len(deletes) - len(meta) - len(pay),
            n_delete=len(deletes),
            n_annotated=len(annotated),
        )
        self.table = feed_rows

        dup_keys = sorted(rng.sample(annotated, max(1, len(annotated) // 50)))
        phantom = sorted(rng.sample(range(N_BATCHES), N_BATCHES // 10))
        release = self._release(d, sorted(annotated), set(dup_keys), set(phantom))
        return Day(
            index=d,
            feed_dir=feed_dir,
            feed_rows=len(lines) + 1,
            feed=feed,
            dup_keys=tuple(dup_keys),
            phantom_batches=tuple(phantom),
            release=release,
            published_rows=len(self.table),
            released_rows=len(self.released),
        )

    def _release(self, d: int, annotated: list[int], dups: set[int], phantom: set[int]) -> ReleaseCounts:
        # Candidate rows: (key, attempt, batch, consensus_n, diag).
        cands = []
        for k in annotated:
            batch, n, diag = candidate_quality(k, self.table[k][1])
            cands.append((k, d, batch, n, diag))
            if k in dups:
                cands.append((k, d + DUP_ATTEMPT_OFFSET, batch, n + 5, diag))
        held = [c for c in cands if c[2] in phantom]
        proc = [c for c in cands if c[2] not in phantom]
        n_failed = n_new = n_update = n_tomb = 0
        per_batch: dict[int, list[int]] = {}
        for key, attempt, batch, n, diag in proc:
            tot = per_batch.setdefault(batch, [0, 0])
            tot[0] += 1
            # Cascade order: duplicate, n_discrepancy, too_many_n.
            if attempt >= DUP_ATTEMPT_OFFSET or abs(n - diag) > 60 or n > 90:
                n_failed += 1
                continue
            tot[1] += 1
            best = self.released.get(key)
            if best is None:
                n_new += 1
                self.released[key] = n
            elif n < RELEASE_RATIO * best:
                n_update += 1
                self.released[key] = n
            else:
                n_tomb += 1
        return ReleaseCounts(
            version=d,
            n_candidates=len(cands),
            n_held_back=len(held),
            n_failed=n_failed,
            n_submit_new=n_new,
            n_submit_update=n_update,
            n_tombstoned=n_tomb,
            n_suspicious_batches=sum(1 for t, r in per_batch.values() if r / t < 0.8),
        )


def counts_diff(expected, actual) -> list[str]:
    """Names and values of every report field that differs from the
    planted count (``actual`` is an engine report dataclass)."""
    return [
        f"{k}: planted {v}, reported {getattr(actual, k)}"
        for k, v in asdict(expected).items()
        if getattr(actual, k) != v
    ]
