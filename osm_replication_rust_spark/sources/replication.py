"""Replication-diff fetch: the reference's `Update::download` protocol
(/root/reference/src/update.rs:40-246) re-expressed with stdlib only.

Protocol (observable behavior parity):
- state files are `key=value` lines; the sequence is `sequenceNumber=N`
  (a malformed file is an error, a missing one a distinct error);
- the remote head state lives at `<url_base>state.txt` and may be
  clamped by `max_state`;
- diffs N+1..head are fetched as `<url_base>NNN/NNN/NNN.osc.gz` (the
  same 3/3/3 shard split as the osmbin store paths —
  functions.coords.seq_split) plus the sibling `.state.txt`, into a
  `planet/minute/` tree;
- `file://` URLs (and bare paths) are local copies; http(s) downloads
  retry up to 5 attempts with a 1 s pause and preserve the server's
  Last-Modified as the file mtime.

This is DRIVER-side I/O (a handful of small files per polling cycle),
deliberately not distributed: the heavy lifting — parsing and applying
the fetched diffs — happens in the Spark pipeline that consumes the
downloaded tree (cli.py update, which reads only the states above the
store's cursor).
"""

from __future__ import annotations

import http.client
import os
import shutil
import time
import urllib.error
import urllib.request
from email.utils import parsedate_to_datetime
from urllib.parse import urlparse

from .osc import _shard

USER_AGENT = "osm-replication-rust-spark"
DOWNLOAD_ATTEMPTS = 5
RETRY_WAIT_S = 1.0
HTTP_TIMEOUT_S = 30.0

#: transient failures the retry loop must absorb: URLError covers
#: connect/DNS errors, but a connection dropped MID-BODY surfaces as
#: IncompleteRead / ConnectionResetError / socket.timeout (OSError),
#: which are not URLError subclasses.
_RETRYABLE = (urllib.error.URLError, http.client.HTTPException, OSError)


class StateNotFound(FileNotFoundError):
    """Local/remote state file missing."""


class StateIncorrect(ValueError):
    """State file exists but carries no sequenceNumber= line."""


def seq_split(n: int) -> str:
    """3/3/3 shard path of a sequence number (update.rs:75-81) — the
    single definition lives in sources.osc._shard (the publish side of
    the same tree layout; fetch and publish paths must stay
    bit-identical for the round trip)."""
    return _shard(n)


def read_state(content: str, source: str = "<string>") -> int:
    for line in content.splitlines():
        if line.startswith("sequenceNumber="):
            return int(line.split("=", 1)[1])
    raise StateIncorrect(f"no sequenceNumber= line in {source}")


def _local_path(url: str) -> str | None:
    """Return a filesystem path for bare paths and file:// URLs, else
    None (the reference treats scheme-less URIs as files too)."""
    p = urlparse(url)
    if p.scheme in ("", "file"):
        return (p.netloc or "") + p.path if p.scheme == "file" else url
    return None


def read_state_from_url(url: str) -> int:
    path = _local_path(url)
    if path is not None:
        try:
            with open(path, encoding="utf-8") as f:
                return read_state(f.read(), path)
        except FileNotFoundError as e:
            raise StateNotFound(str(e)) from e
    req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
    with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as resp:
        return read_state(resp.read().decode("utf-8"), url)


def download(url: str, dest: str, attempts: int = DOWNLOAD_ATTEMPTS,
             retry_wait: float = RETRY_WAIT_S) -> None:
    """Fetch one file. Local source: plain copy (mtime preserved).
    Remote: up to `attempts` tries, `retry_wait` seconds apart; on
    success the Last-Modified header becomes the file mtime (the
    reference keys diff timestamps off it)."""
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    path = _local_path(url)
    if path is not None:
        shutil.copy2(path, dest)
        return
    req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
    # dot-prefixed temp name: Spark file sources ignore hidden files,
    # so a crash mid-download cannot poison a later `*.osc*` glob scan
    tmp = os.path.join(
        os.path.dirname(dest) or ".", "." + os.path.basename(dest) + ".part"
    )
    last_err: Exception | None = None
    for i in range(attempts):
        try:
            with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as resp:
                with open(tmp, "wb") as out:
                    shutil.copyfileobj(resp, out)
                os.replace(tmp, dest)
                lm = resp.headers.get("Last-Modified")
                if lm:
                    ts = parsedate_to_datetime(lm).timestamp()
                    os.utime(dest, (ts, ts))
                return
        except _RETRYABLE as e:  # mid-body drops + connect failures
            last_err = e
            if i < attempts - 1:
                print(f"Error when fetching {url} - will retry again")
                time.sleep(retry_wait)
    raise last_err  # type: ignore[misc]


def fetch_new_diffs(
    state: str | int,
    url_base: str,
    dest_dir: str,
    max_state: int | None = None,
) -> list[tuple[int, str, str]]:
    """The reference's sequence walk: local state -> remote head ->
    download every (diff, state) pair in between into
    `<dest_dir>/planet/minute/NNN/NNN/NNN.{osc.gz,state.txt}`.
    ``state`` is either the current sequence number (int) or a path to
    a state file to parse. Returns [(seq, osc_path, state_path)] in
    order (empty = up to date). The caller applies them through the
    Spark pipeline and advances its own state per applied diff
    (cli.py), so a crash mid-walk re-fetches only unapplied
    sequences."""
    if not url_base.endswith("/"):
        url_base += "/"
    if isinstance(state, int):
        cur = state
    else:
        with open(state, encoding="utf-8") as f:
            cur = read_state(f.read(), state)
    # the tree root exists even on an up-to-date poll, so downstream
    # directory scans are clean no-ops instead of path-not-found errors
    os.makedirs(os.path.join(dest_dir, "planet", "minute"), exist_ok=True)
    head = read_state_from_url(url_base + "state.txt")
    if max_state is not None:
        head = min(head, max_state)
    out: list[tuple[int, str, str]] = []
    for n in range(cur + 1, head + 1):
        split = seq_split(n)
        osc = os.path.join(dest_dir, "planet", "minute", split + ".osc.gz")
        st = os.path.join(dest_dir, "planet", "minute", split + ".state.txt")
        download(url_base + split + ".osc.gz", osc)
        download(url_base + split + ".state.txt", st)
        out.append((n, osc, st))
    return out
