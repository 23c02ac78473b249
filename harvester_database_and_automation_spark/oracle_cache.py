"""Persistent oracle-result cache — the round-10 verdict's ask #2.

Oracle outputs are deterministic functions of (oracle SQL, corpus), yet
every gate re-run recomputed them from scratch: the sf1 oracle leg cost
2560-3191 s per run, single oracles up to 774 s, and the in-RAM DuckDB
budget carries a once-observed co-tenancy malloc flake whose only
mitigation is a full (equally expensive) retry. This cache keys a
DIGEST of the oracle's canonical result by (sha256 of the SQL, a corpus
fingerprint), so retries and unchanged rounds verify against the stored
digest instead of re-running DuckDB — shrinking both the wall cost and
the malloc exposure window to first computation only.

Safety properties, each covered by tests/test_oracle_cache.py:

- The digest is computed over the SAME canonicalization the live compare
  uses (testing.canonical_rows: sorted columns, normalized cells, sorted
  rows), with numbers further canonicalized as exact rationals so that
  equal-by-``==`` values digest identically across engine type skews
  (Spark Decimal vs DuckDB float, int vs float). Digest equality is
  therefore never LOOSER than the live row comparison — a cache hit
  certifies exactly what a live pass would.
- A digest MISMATCH never fails a query from the cache alone: the slow
  path re-runs the real oracle, produces the live diagnostic compare,
  and refreshes the entry. The cache can only ever turn a would-be pass
  into a fast pass, or defer to the live oracle.
- Any change to the oracle SQL or to the corpus files (path set, size,
  or mtime of every parquet file/dir leaf) changes the key and busts
  the entry — conservatively: regenerating identical bytes re-keys too.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import tempfile
import time
from dataclasses import dataclass
from decimal import Decimal
from fractions import Fraction
from pathlib import Path

_SEP = b"\xff\x00"


def _digest_cell(v) -> bytes:
    """Unambiguous, equality-respecting byte form of one normalized cell.

    Numeric types collapse to an exact rational so every pair of values
    Python's ``==`` treats as equal (1 == 1.0 == Decimal('1.0') == True)
    maps to one byte form; everything else keeps a type-tagged exact
    representation. Cells arrive already normalized by
    ``testing._normalize_cell`` (NaN -> None, Timestamps -> naive
    datetime, numpy -> builtin, arrays -> tuples)."""
    if v is None:
        return b"\x00"
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, (int, float, Decimal)):
        if isinstance(v, float) and not math.isfinite(v):
            return b"f:" + repr(v).encode()
        try:
            fr = Fraction(v)
        except (ValueError, OverflowError):  # Decimal('NaN')/Inf
            return b"f:" + repr(v).encode()
        return b"n:%d/%d" % (fr.numerator, fr.denominator)
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8", "surrogatepass")
    if isinstance(v, bytes):
        return b"b:" + v
    if isinstance(v, tuple):  # array cells; length-prefixed elements
        return b"t:" + b"".join(
            len(e).to_bytes(8, "big") + e for e in map(_digest_cell, v)
        )
    # datetime/date/time and anything else with a deterministic repr.
    return b"o:" + repr(v).encode()


def canonical_digest(cols: list[str], rows: list[tuple]) -> str:
    """sha256 over the canonical (columns, sorted rows) result form."""
    h = hashlib.sha256()
    h.update(repr(list(cols)).encode())
    for r in rows:
        for c in r:
            b = _digest_cell(c)
            h.update(len(b).to_bytes(8, "big"))
            h.update(b)
        h.update(_SEP)
    return h.hexdigest()


def corpus_fingerprint(sf_dir: str) -> str:
    """Fingerprint of the corpus the views read: every parquet leaf's
    relative path, size, and mtime. Mtime-sensitive on purpose — a
    regenerated corpus re-keys even if byte-identical (conservative:
    busts toward recomputation, never toward a stale hit)."""
    root = Path(sf_dir)
    leaves: list[tuple[str, int, int]] = []
    for p in sorted(root.rglob("*.parquet")):
        if p.is_file():
            st = p.stat()
            leaves.append((str(p.relative_to(root)), st.st_size, st.st_mtime_ns))
    h = hashlib.sha256(repr(leaves).encode())
    return h.hexdigest()


@dataclass
class CachedOracle:
    sql_digest: str
    corpus_digest: str
    cols: list[str]
    n_rows: int
    result_digest: str
    compute_sec: float


class OracleCache:
    """Directory of one JSON entry per (SQL digest, corpus digest) key."""

    def __init__(self, cache_dir: str | os.PathLike):
        self.dir = Path(cache_dir)
        self.hits = 0
        self.misses = 0
        self.refreshes = 0  # digest mismatched -> live oracle re-ran

    def _path(self, sql: str, corpus_digest: str) -> Path:
        sql_digest = hashlib.sha256(sql.encode()).hexdigest()
        return self.dir / f"{sql_digest[:20]}_{corpus_digest[:20]}.json"

    def get(self, sql: str, corpus_digest: str) -> CachedOracle | None:
        p = self._path(sql, corpus_digest)
        try:
            d = json.loads(p.read_text())
            return CachedOracle(**d)
        except (OSError, ValueError, TypeError):
            return None

    def put(self, sql: str, corpus_digest: str, cols: list[str],
            rows: list[tuple], compute_sec: float) -> CachedOracle:
        entry = CachedOracle(
            sql_digest=hashlib.sha256(sql.encode()).hexdigest(),
            corpus_digest=corpus_digest,
            cols=list(cols),
            n_rows=len(rows),
            result_digest=canonical_digest(cols, rows),
            compute_sec=round(compute_sec, 2),
        )
        self.dir.mkdir(parents=True, exist_ok=True)
        p = self._path(sql, corpus_digest)
        # Atomic publish: a concurrent reader sees the old entry or the
        # new one, never a torn file.
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(entry.__dict__, f)
        os.replace(tmp, p)
        return entry

    def stats(self) -> dict:
        return {
            "hits": self.hits,
            "misses": self.misses,
            "refreshes": self.refreshes,
        }


def check_query_cached(spark, con_factory, name: str, sf_dir: str,
                       cache: OracleCache | None):
    """Check registered query ``name`` against its DuckDB oracle; returns
    (CompareResult, served_from_cache). A query without an oracle gets
    the rows-only gate (an empty result fails).

    With a ``cache``, the oracle side is served from it when the Spark
    result's digest matches the stored oracle digest. ``con_factory`` is a
    zero-arg callable returning a DuckDB connection with the corpus views
    registered — called ONLY on the slow path, so an all-hits run never
    opens DuckDB at all (the malloc-exposure window the verdict asked to
    shrink).

    Slow path (``cache=None``, no entry, or digest mismatch): run the live
    oracle, do the full diagnostic compare, and refresh the entry (if
    caching) from the live oracle result. The cache never produces a
    failure by itself."""
    from harvester_database_and_automation_spark.plans import QUERIES
    from harvester_database_and_automation_spark.testing import (
        CompareResult,
        canonical_rows,
        compare_frames,
    )

    spec = QUERIES[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return CompareResult(
            name=name, ok=len(spark_pdf) > 0, spark_rows=len(spark_pdf),
            oracle_rows=-1, problems=["no oracle: rows-only check"],
        ), False

    if cache is not None:
        corpus_digest = corpus_fingerprint(sf_dir)
        entry = cache.get(spec.oracle, corpus_digest)
        if entry is None:
            cache.misses += 1
        else:
            s_cols, s_rows = canonical_rows(spark_pdf)
            if (
                s_cols == entry.cols
                and len(s_rows) == entry.n_rows
                and canonical_digest(s_cols, s_rows) == entry.result_digest
            ):
                cache.hits += 1
                return CompareResult(
                    name=name, ok=True, spark_rows=len(s_rows),
                    oracle_rows=entry.n_rows,
                ), True
            # Mismatch against the cached digest: never fail from the
            # cache — fall through to the live oracle for the real compare.
            cache.refreshes += 1

    t0 = time.time()
    oracle_pdf = con_factory().execute(spec.oracle).df()
    if cache is not None:
        o_cols, o_rows = canonical_rows(oracle_pdf)
        cache.put(spec.oracle, corpus_digest, o_cols, o_rows, time.time() - t0)
    return compare_frames(name, spark_pdf, oracle_pdf), False
