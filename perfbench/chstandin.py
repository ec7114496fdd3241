"""Local ClickHouse stand-in: the HTTP endpoint the daemon's fan-out
POSTs to during a benchmark run.

It answers what the replication path sends — ``INSERT INTO <table> (…)
FORMAT TabSeparated`` with an ``insert_deduplication_token``, and
``TRUNCATE TABLE`` — and records, per POST, the arrival time, the byte
count, the target table, the token and the body. Like ClickHouse
insert dedup it drops a body whose token it has already accepted, and
it flags a token that arrives with two different bodies (a broken
token scheme would silently drop data on a real server).

The handler only appends to an in-memory log under a lock; bodies are
parsed into rows later, outside the timed part, so the stand-in adds
as little as possible to the latency it measures.
"""

from __future__ import annotations

import hashlib
import re
import threading
import time
import urllib.parse
from collections import Counter
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_INSERT = re.compile(r"INSERT INTO\s+(\S+)\s*\(([^)]*)\)\s*FORMAT TabSeparated", re.S)
_TRUNCATE = re.compile(r"TRUNCATE TABLE\s+(\S+)", re.S)


def _unquote_ident(s: str) -> str:
    return ".".join(p.strip("`") for p in s.split("."))


@dataclass
class Post:
    at: float  # time.perf_counter() when the body was fully read
    table: str
    columns: list[str]
    token: str | None
    body: bytes


@dataclass
class Log:
    posts: list[Post] = field(default_factory=list)
    truncates: int = 0
    dup_dropped: int = 0
    token_conflicts: int = 0
    bad_requests: int = 0
    tokens: dict[tuple[str, str], str] = field(default_factory=dict)  # (table, token) -> body md5
    lock: threading.Lock = field(default_factory=threading.Lock)


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 (http.server naming)
        log: Log = self.server.log
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        at = time.perf_counter()
        qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        query = (qs.get("query") or [""])[0]
        token = (qs.get("insert_deduplication_token") or [None])[0]
        m = _INSERT.match(query)
        with log.lock:
            if m:
                table = _unquote_ident(m.group(1))
                cols = [c.strip().strip("`") for c in m.group(2).split(",")]
                digest = hashlib.md5(body).hexdigest()
                seen = log.tokens.get((table, token)) if token is not None else None
                if seen is None:
                    if token is not None:
                        log.tokens[(table, token)] = digest
                    log.posts.append(Post(at, table, cols, token, body))
                elif seen == digest:
                    log.dup_dropped += 1  # ClickHouse insert dedup
                else:
                    log.token_conflicts += 1
            elif _TRUNCATE.match(query):
                log.truncates += 1
            else:
                log.bad_requests += 1
        status = 200 if (m or _TRUNCATE.match(query)) else 400
        self.send_response(status)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):  # silence per-request stderr lines
        pass


class StandIn:
    """``with StandIn() as ch:`` serves on 127.0.0.1 in a thread of this
    process; ``ch.endpoint`` is the URL to configure."""

    def __init__(self):
        self.log = Log()
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._server.daemon_threads = True
        self._server.log = self.log
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="ch-standin", daemon=True
        )

    @property
    def endpoint(self) -> str:
        host, port = self._server.server_address
        return f"http://{host}:{port}"

    def __enter__(self) -> "StandIn":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def take(self) -> list[Post]:
        """Hand over the posts received so far and forget them."""
        with self.log.lock:
            posts, self.log.posts = self.log.posts, []
        return posts


def parse_rows(post: Post) -> list[tuple]:
    """A CDC delta body → rows of (key, ver, op, value); ``\\N`` → None.
    The body's columns must be the pipeline's normalized CDC shape."""
    if post.columns != ["key", "ver", "op", "value"]:
        raise ValueError(f"unexpected columns {post.columns} for {post.table}")
    rows = []
    for line in post.body.decode("utf-8").splitlines():
        key, ver, op, value = line.split("\t")
        rows.append(
            (int(key), int(ver), op, None if value == "\\N" else float(value))
        )
    return rows


class Received:
    """Rows the stand-in accepted, per table, and when each
    transaction's rows for a table had all arrived."""

    def __init__(self):
        self.rows: dict[str, Counter] = {}
        # (table, commit lsn) -> arrival of the last POST carrying a row
        # of that transaction for that table
        self.tx_done: dict[tuple[str, int], float] = {}

    def add(self, posts: list[Post]) -> int:
        """Fold posts in; returns the number of rows they carried."""
        n = 0
        for p in posts:
            table = p.table.split(".")[-1]
            rows = parse_rows(p)
            n += len(rows)
            self.rows.setdefault(table, Counter()).update(rows)
            for lsn in {ver >> 20 for _key, ver, _op, _value in rows}:
                k = (table, lsn)
                if p.at > self.tx_done.get(k, 0.0):
                    self.tx_done[k] = p.at
        return n
