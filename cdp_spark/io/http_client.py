"""The one HTTP client (src/io/http-client.ts:28-56): every step that
sends over the wire — ``send-http`` and ``send-receive-http`` — posts
through :func:`poster` and reads NDJSON responses with
:func:`ndjson_values`.

A request is retried on a 5xx response or a transport error, with
exponential backoff (``BACKOFF_S * 2**attempt``), at most
``MAX_RETRIES`` times; it gives the response text on a 2xx and
``None`` otherwise.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator, Optional

MAX_RETRIES = 4
BACKOFF_S = 1.0
TIMEOUT_S = 60.0


def poster(method: str, target: str, headers: dict[str, str]) -> Callable[[bytes], Optional[str]]:
    """``post(body)``: send ``body`` to ``target`` and return the
    response text on a 2xx, ``None`` on any other outcome.  The retry
    policy is read here, on the driver, and ships inside the closure
    to the executors; each task opens one session on its first post."""
    retries, backoff, timeout = MAX_RETRIES, BACKOFF_S, TIMEOUT_S
    session = None

    def post(body: bytes) -> Optional[str]:
        import time

        import requests

        nonlocal session
        if session is None:
            session = requests.Session()
        for attempt in range(retries + 1):
            try:
                resp = session.request(method, target, data=body, headers=headers, timeout=timeout)
                if resp.status_code < 500:
                    return resp.text if 200 <= resp.status_code < 300 else None
            except requests.RequestException:
                pass
            if attempt < retries:
                time.sleep(backoff * (2**attempt))
        return None

    return post


def ndjson_values(text: Optional[str]) -> Iterator[str]:
    """Each JSON value of an NDJSON response, as compact JSON text;
    blank and unparseable lines are skipped."""
    for line in (text or "").splitlines():
        try:
            val = json.loads(line)
        except ValueError:
            continue
        yield json.dumps(val, separators=(",", ":"), ensure_ascii=False)
