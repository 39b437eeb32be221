"""K6 — heartbeat control plane (reference io/heartbeat.go:17-60).

Every ``interval`` seconds, GET ``{hook}?uid=...&version=...`` with a
short timeout; an HTTP 426 Upgrade-Required response triggers the
remote-restart path — the reference SIGQUITs itself (heartbeat.go:52-55,
main.go:99-112), our engine calls an injected ``on_upgrade`` (typically
``query.stop()`` on the streaming query).  ``Heartbeat`` is the one
binding: a wall-clock background thread, like the reference goroutine.
"""

from __future__ import annotations

import threading
import urllib.parse
import urllib.request
from collections.abc import Callable

DEFAULT_INTERVAL_S = 30.0  # reference io/heartbeat.go:12-13
DEFAULT_TIMEOUT_S = 0.3  # reference io/heartbeat.go:14-15 (300 ms)
UPGRADE_REQUIRED = 426


def ping(
    hook: str,
    uid: str,
    version: str,
    timeout: float = DEFAULT_TIMEOUT_S,
) -> int:
    """One heartbeat GET; returns the HTTP status (reference
    io/heartbeat.go:33-47 builds ``hook?uid=&version=``)."""
    qs = urllib.parse.urlencode({"uid": uid, "version": version})
    sep = "&" if "?" in hook else "?"
    req = urllib.request.Request(f"{hook}{sep}{qs}", method="GET")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


class Heartbeat:
    """Background heartbeat thread (reference StartHeartbeat goroutine,
    main.go:43-49).  426 → ``on_upgrade()`` once, then the thread exits."""

    def __init__(
        self,
        hook: str,
        uid: str,
        version: str,
        interval: float = DEFAULT_INTERVAL_S,
        timeout: float = DEFAULT_TIMEOUT_S,
        on_upgrade: Callable[[], None] | None = None,
    ) -> None:
        self.hook = hook
        self.uid = uid
        self.version = version
        self.interval = interval
        self.timeout = timeout
        self.on_upgrade = on_upgrade
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                status = ping(self.hook, self.uid, self.version, self.timeout)
            except Exception:
                continue  # reference logs and keeps beating
            if status == UPGRADE_REQUIRED:
                if self.on_upgrade is not None:
                    self.on_upgrade()
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=self.interval + 1)
