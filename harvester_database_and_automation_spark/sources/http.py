"""S6 — HTTP/REST fetchers: driver-side fetch → local file → typed read.

The reference pulls four kinds of remote feeds (SURVEY.md §2.1 S6):

- a plain CSV URL (OWID global cases, database/R/import_owid_global_cases.R:6-12),
- a paginated JSON API walked cursor-by-cursor (rxiv/RxivDownloader.java:56-80),
- a small JSON document (pango alias table,
  pangolineage/PangolinLineageAliasImporter.java:47-64),
- an authenticated bulk download streamed to disk
  (gisaid/GisaidApiImporter.java:442-454).

Spark-first: the fetch is inherently a driver-side, single-stream action —
there is nothing to distribute about one HTTP response — so the pattern is
*fetch to a local spool file, then hand the file to a distributed typed
reader* (spark.read.csv/json with explicit schema). The transport is an
injectable callable so tests (and air-gapped runs) never touch a socket;
the default uses urllib from the standard library.

Retry/backoff mirrors the reference's operational posture (the GISAID
download is retried by the outer poll loop; here it is explicit).
``http_fetch_roundtrip`` certifies the fetch-to-spool-to-read path against
a loopback server.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass

# A transport maps a URL (plus optional headers) to response bytes.
Transport = Callable[[str, dict[str, str]], bytes]


def urllib_transport(url: str, headers: dict[str, str]) -> bytes:
    """Default transport: stdlib urllib, driver-side."""
    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req) as resp:  # noqa: S310 - caller supplies URL
        return resp.read()


@dataclass
class FetchResult:
    path: str
    n_bytes: int
    sha256: str
    attempts: int


def fetch_to_file(
    url: str,
    dest: str,
    *,
    transport: Transport = urllib_transport,
    headers: dict[str, str] | None = None,
    retries: int = 3,
    backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> FetchResult:
    """Fetch ``url`` to ``dest`` atomically with exponential backoff.

    The write goes through a temp file + rename so a crashed fetch never
    leaves a truncated spool file for the reader to pick up (the same
    atomic-publish discipline as operators.publish, at file granularity).
    """
    last: Exception | None = None
    for attempt in range(1, retries + 1):
        try:
            data = transport(url, headers or {})
            d = os.path.dirname(dest) or "."
            os.makedirs(d, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".fetch-")
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
            os.replace(tmp, dest)
            digest = hashlib.sha256(data).hexdigest()
            return FetchResult(dest, len(data), digest, attempt)
        except Exception as exc:  # transport errors only reach here
            last = exc
            if attempt < retries:
                sleep(backoff_s * (2 ** (attempt - 1)))
    raise RuntimeError(f"fetch of {url} failed after {retries} attempts") from last
