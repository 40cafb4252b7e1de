"""Process control, HTTP client and closed-loop load for the benchmark."""

from __future__ import annotations

import http.client
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REQUEST_TIMEOUT_S = 120.0
STARTUP_TIMEOUT_S = 150.0


class BenchError(RuntimeError):
    """The benchmark itself cannot proceed (not a program failure)."""


# ---------------------------------------------------------------------------
# process tree helpers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_mb(pid: int) -> float:
    """Sum of each process's high-water RSS (VmHWM) over the tree."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Child:
    """A Python child process driven by JSON lines on stdin/stdout."""

    def __init__(self, script: str, args: list[str], env: dict, log_path: str):
        self.log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script), *args],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            env=env,
            text=True,
            start_new_session=True,
        )
        self.tree: list[int] = [self.proc.pid]

    def read_json(self, timeout: float) -> dict:
        """Next JSON line from the child; kills it on timeout."""
        timer = threading.Timer(timeout, self.kill)
        timer.start()
        try:
            line = self.proc.stdout.readline()
        finally:
            timer.cancel()
        if not line:
            raise BenchError(
                f"{os.path.basename(self.proc.args[1])} exited "
                f"(code {self.proc.poll()}); see {self.log.name}"
            )
        return json.loads(line)

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def snapshot_tree(self) -> None:
        self.tree = process_tree(self.proc.pid)

    def kill(self) -> None:
        for p in self.tree + process_tree(self.proc.pid):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass

    def stop(self) -> None:
        """Ask the child to quit, then make sure its whole tree is gone."""
        self.snapshot_tree()
        try:
            self.send("quit")
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        self.kill()
        self.proc.wait(timeout=30)
        for p in self.tree:
            deadline = time.monotonic() + 10
            while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
                try:
                    with open(f"/proc/{p}/stat") as f:
                        if f.read().split(")")[-1].split()[0] == "Z":
                            break
                except OSError:
                    break
                time.sleep(0.05)
        self.log.close()


# ---------------------------------------------------------------------------
# HTTP
# ---------------------------------------------------------------------------


@dataclass
class Result:
    kind: str
    start: float
    latency: float
    status: int
    body: bytes
    rid: str
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and 200 <= self.status < 300

    def json(self):
        return json.loads(self.body)


def call(port: int, method: str, path: str, kind: str, rid: str,
         body: dict | None = None) -> Result:
    data = json.dumps(body).encode() if body is not None else None
    headers = {"X-Request-Id": rid}
    if data is not None:
        headers["Content-Type"] = "application/json"
    t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection(
            "127.0.0.1", port, timeout=REQUEST_TIMEOUT_S
        )
        try:
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            payload = resp.read()
            status = resp.status
        finally:
            conn.close()
        err = None
    except (OSError, http.client.HTTPException) as exc:
        payload, status, err = b"", 0, f"{type(exc).__name__}: {exc}"
    return Result(kind, t0, time.perf_counter() - t0, status, payload, rid, err)


# ---------------------------------------------------------------------------
# closed-loop clients
# ---------------------------------------------------------------------------


@dataclass
class Recorder:
    results: list[Result] = field(default_factory=list)
    invalid: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, r: Result, problem: str | None) -> None:
        with self.lock:
            self.results.append(r)
            if problem:
                self.invalid.append(problem)


def closed_loop(port: int, n_clients: int, make_spec, stop: threading.Event,
                rec: Recorder, validate, prefix: str = "") -> None:
    """Run n clients until `stop` is set; each sends its next request when
    the previous one completes. make_spec(client, i) returns an object with
    method/path/kind/body, or None when the client has no more to send;
    validate(spec, result) -> problem or None. Request ids are
    `{prefix}c{client}-{i}`."""

    def client(c: int) -> None:
        i = 0
        while not stop.is_set():
            s = make_spec(c, i)
            if s is None:
                return
            r = call(port, s.method, s.path, s.kind, f"{prefix}c{c}-{i}", s.body)
            rec.add(r, validate(s, r) if r.ok else None)
            i += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile: a Beta-weighted
    average of all order statistics. At 20-50 samples it moves far less
    between runs than a single order statistic, which flips between the
    modes of a mixed request population."""
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    if n == 0:
        return float("nan")
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    # CDF of Beta(a, b) at i/n by integrating its density on a fine grid
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = ((a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
               + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf))))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), v))


def censored_quantile(ok: list[float], n_failed: int, q: float) -> float:
    """Quantile over all attempts, where a failed attempt ranks above every
    success (it missed every latency limit). Failures enter the estimate
    with the slowest success's latency, so one failure shifts ranks instead
    of dragging the weighted average toward a timeout; once more than
    (100 - q)% failed, the quantile itself is missed: the request timeout."""
    n = len(ok) + n_failed
    if n == 0:
        return float("nan")
    if not ok or n_failed > (1 - q / 100.0) * n:
        return REQUEST_TIMEOUT_S
    return quantile(list(ok) + [max(ok)] * n_failed, q)


def latency_stats(results: list[Result], tail_q: float,
                  wall_s: float) -> dict:
    """Median and tail over all attempts (see censored_quantile)."""
    ok = [r for r in results if r.ok]
    lat = [r.latency for r in ok]
    failed = len(results) - len(ok)
    tail = censored_quantile(lat, failed, tail_q)
    return {
        "p50_s": censored_quantile(lat, failed, 50),
        "tail_s": tail,
        "tail_q": tail_q,
        "samples": len(results),
        "beyond_tail": sum(1 for x in lat if x > tail) + failed,
        "failed": failed,
        "rps": len(ok) / wall_s if wall_s > 0 else float("nan"),
    }
