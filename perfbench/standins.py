"""The ERDDAP and AGOL stand-ins, hosted together in ONE child process so
their Python work never holds the benchmark client's GIL.

``sources.erddap_httpd`` and ``sinks.agol_httpd`` are used as they are;
the subclasses here only add what a steady benchmark needs:

- every csvp / NetCDF response is memoized by (URL, dataset version), so
  a repeated chunk request costs a dict lookup instead of a re-scan and
  ISO parse of the whole fixture file;
- every dataset carries its own Last-Modified and version, so the NRT
  fleet can change a chosen subset;
- both servers count requests, response bytes and busy time (wall time
  inside the request handler), read back and cleared after every op.

The parent (``Standins``) talks to the child over its stdin/stdout, one
JSON command and one JSON reply per line.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import threading
import time
import urllib.parse
from email.utils import formatdate, parsedate_to_datetime

_LM_BASE = 1709251200  # 2024-03-01T00:00:00Z


class _Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.clear()

    def clear(self):
        self.requests = 0
        self.bytes = 0
        self.busy_s = 0.0

    def add(self, nbytes: int, busy: float):
        with self.lock:
            self.requests += 1
            self.bytes += nbytes
            self.busy_s += busy

    def drain(self) -> dict:
        with self.lock:
            out = {"requests": self.requests, "bytes": self.bytes,
                   "busy_s": self.busy_s}
            self.clear()
        return out


def _make_servers():
    from erddap2agol_spark.sinks.agol_httpd import AgolFixturePortal
    from erddap2agol_spark.sources.erddap_httpd import ErddapFixtureServer, _parse_iso

    class MemoErddap(ErddapFixtureServer):
        def __init__(self):
            super().__init__()
            self.version: dict[str, int] = {}
            self.memo: dict[tuple[str, int], bytes] = {}
            self.counters = _Counters()
            self._memo_lock = threading.Lock()

        def touch_dataset(self, ds: str) -> str:
            """New upstream data for one dataset: bump its version and
            Last-Modified (one hour per version)."""
            with self._memo_lock:
                self.version[ds] = self.version.get(ds, 0) + 1
                for k in [k for k in self.memo if k[0].startswith(f"{ds}:")]:
                    del self.memo[k]
            return self.last_modified_of(ds)

        def last_modified_of(self, ds: str) -> str:
            return formatdate(_LM_BASE + 3600 * self.version.get(ds, 0), usegmt=True)

        def _body(self, path: str, query: str) -> tuple[bytes, str] | None:
            if path.startswith("/tabledap/") and path.endswith(".csvp"):
                src = self.csvp_fixtures.get(path[len("/tabledap/"):-len(".csvp")])
                return (self._csvp_response(src, query), "text/csv") if src else None
            if path.startswith("/griddap/") and path.endswith(".nc"):
                divisions = self.grid_fixtures.get(path[len("/griddap/"):-len(".nc")])
                m = re.search(r"\[\(([^)]+)\):\d+:\(([^)]+)\)\]",
                              urllib.parse.unquote(query))
                if divisions is None or m is None:
                    return None
                lo, hi = _parse_iso(m.group(1)), _parse_iso(m.group(2))
                hits = [p for (t0, t1, p) in divisions
                        if lo <= _parse_iso(t0) and _parse_iso(t1) <= hi]
                if len(hits) != 1:
                    return None
                with open(hits[0], "rb") as f:
                    return f.read(), "application/x-netcdf"
            return None

        def _handle(self, h) -> None:
            t0 = time.perf_counter()
            path, _, query = h.path.partition("?")
            ds = path.rsplit("/", 1)[-1].split(".", 1)[0]
            lm = self.last_modified_of(ds)
            since = h.headers.get("If-Modified-Since")
            nbytes = 0
            if since is not None and _not_newer(lm, since):
                h.send_response(304)
                h.end_headers()
            else:
                key = (f"{ds}:{h.path}", self.version.get(ds, 0))
                with self._memo_lock:
                    hit = self.memo.get(key)
                if hit is None:
                    hit = self._body(path, query)
                    if hit is not None:
                        with self._memo_lock:
                            self.memo[key] = hit
                if hit is None:
                    h.send_response(404)
                    h.end_headers()
                else:
                    body, ctype = hit
                    h.send_response(200)
                    h.send_header("Content-Type", ctype)
                    h.send_header("Content-Length", str(len(body)))
                    h.send_header("Last-Modified", lm)
                    h.end_headers()
                    h.wfile.write(body)
                    nbytes = len(body)
            self.counters.add(nbytes, time.perf_counter() - t0)

    class CountingPortal(AgolFixturePortal):
        def __init__(self):
            super().__init__()
            self.counters = _Counters()

        def _handle(self, h, form) -> None:
            t0 = time.perf_counter()
            super()._handle(h, form)
            self.counters.add(0, time.perf_counter() - t0)

    return MemoErddap(), CountingPortal()


def _not_newer(lm: str, since: str) -> bool:
    try:
        return parsedate_to_datetime(lm) <= parsedate_to_datetime(since)
    except (TypeError, ValueError):
        return False


def _serve(inp, out) -> None:
    """Child main: start both servers, then answer one JSON command per
    line until ``stop``."""
    erddap, portal = _make_servers()

    def reply(doc) -> None:
        out.write(json.dumps(doc) + "\n")
        out.flush()

    reply([erddap.start(), portal.start()])
    try:
        for line in inp:
            cmd, arg = json.loads(line)
            if cmd == "stop":
                break
            if cmd == "csvp":
                erddap.csvp_fixtures.update(arg)
                reply(None)
            elif cmd == "grid":
                erddap.grid_fixtures.update({k: [tuple(d) for d in v] for k, v in arg.items()})
                reply(None)
            elif cmd == "touch":
                reply([erddap.touch_dataset(ds) for ds in arg])
            elif cmd == "drain":
                erddap.request_log.clear()
                with portal._lock:
                    portal.request_log.clear()
                reply({"erddap": erddap.counters.drain(),
                       "agol": portal.counters.drain(),
                       "agol_items": len(portal.items)})
            else:
                reply({"error": f"unknown command {cmd!r}"})
    finally:
        erddap.stop()
        portal.stop()


class Standins:
    """Parent-side handle of the stand-in child process."""

    def __init__(self, root: str):
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.standins"], cwd=root,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.erddap_url, self.agol_url = self._read()

    def _read(self):
        line = self._proc.stdout.readline()
        if not line:
            raise RuntimeError(f"stand-in process exited ({self._proc.poll()})")
        doc = json.loads(line)
        if isinstance(doc, dict) and "error" in doc:
            raise RuntimeError(doc["error"])
        return doc

    def _call(self, cmd: str, arg=None):
        self._proc.stdin.write(json.dumps([cmd, arg]) + "\n")
        self._proc.stdin.flush()
        return self._read()

    def add_csvp(self, fixtures: dict[str, str]) -> None:
        self._call("csvp", fixtures)

    def add_grid(self, fixtures: dict) -> None:
        self._call("grid", fixtures)

    def touch(self, datasets: list[str]) -> list[str]:
        return self._call("touch", datasets)

    def drain(self) -> dict:
        """Counters since the last drain (and clear the request logs)."""
        return self._call("drain")

    def stop(self) -> None:
        if self._proc.poll() is None:
            try:
                self._proc.stdin.write(json.dumps(["stop", None]) + "\n")
                self._proc.stdin.close()
                self._proc.wait(30)
            except (OSError, subprocess.TimeoutExpired):
                self._proc.kill()
                self._proc.wait(10)
        self._proc.stdout.close()


if __name__ == "__main__":
    _serve(sys.stdin, sys.stdout)
