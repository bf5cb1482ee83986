"""Seeded access-log generator, ground-truth tallies and ML training corpus.

Everything here is pure Python and deterministic in its seed: the same
seed yields byte-identical lines, the same tallies and the same corpus.

Lines are Apache combined-log records with Zipf-distributed hosts and
URLs, about 1% malformed lines and about 2% planted attack URLs. Each
planted attack carries its global line index as ``rid=<index>`` so an
alert received downstream maps back to the line (and file) it came from.
Timestamps have second resolution, 200 lines to each second.

Run as a script, the module is the open-loop tail generator: it writes
one file of ``--lines`` lines every ``--period`` seconds into a watched
directory, on a fixed schedule that never waits for the consumer, and
stamps each file's due and written times into a manifest.
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import re
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

N_HOSTS = 20_000
N_URLS = 5_000
MALFORMED_P = 0.01
ATTACK_P = 0.02
LINES_PER_LOG_SECOND = 200
BASE_EPOCH = 1_602_338_136  # 2020-10-10 13:55:36 UTC
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
METHODS = ["GET", "POST", "HEAD", "PUT", "DELETE"]
METHOD_W = [80, 12, 5, 2, 1]
STATUSES = [200, 304, 404, 301, 500, 206, 403, 503]
STATUS_W = [70, 10, 8, 4, 3, 2, 2, 1]
AGENTS = ["Mozilla/5.0", "curl/7.68.0", "Googlebot/2.1", "python-requests/2.25"]
RID = re.compile(r"rid=(\d+)")
TRAIN_GOOD, TRAIN_BAD = 1_000, 500  # model-fit corpus sizes

_WORDS = "admin user item page news login search cart view data".split()


def attack_url(rng: random.Random, rid: int | None = None) -> str:
    """One SQLi, XSS or path-traversal request path (no spaces, no quotes
    that would break the combined-log request field)."""
    w = rng.choice(_WORDS)
    n = rng.randrange(1, 10_000)
    kind = rng.randrange(9)
    if kind == 0:
        u = f"/{w}.php?id={n}'+or+'1'='1"
    elif kind == 1:
        u = f"/{w}?q=1'+union+select+username,password+from+users--"
    elif kind == 2:
        u = f"/{w}.asp?id={n};drop+table+{w}s--"
    elif kind == 3:
        u = f"/{w}?text=<script>alert(document.cookie)</script>"
    elif kind == 4:
        u = f"/{w}?x=<img+src=x+onerror=alert({n})>"
    elif kind == 5:
        u = f"/{w}/<script>document.location='http://evil/{n}'</script>"
    elif kind == 6:
        u = f"/cgi-bin/{'../' * rng.randint(3, 6)}etc/passwd"
    elif kind == 7:
        u = f"/static/{'..%2f' * rng.randint(3, 6)}etc/shadow"
    else:
        u = f"/{w}.php?file={'../' * rng.randint(2, 5)}windows/win.ini"
    if rid is not None:
        u += ("&" if "?" in u else "?") + f"rid={rid}"
    return u


def training_corpus(seed: int) -> tuple[list[str], list[str]]:
    """Deterministic benign and attack URL lists for the model fit."""
    from logvision_spark.ml.corpus import synth_good_urls

    good = [u.replace(" ", "%20") for u in synth_good_urls(TRAIN_GOOD, seed=seed)]
    rng = random.Random(seed * 7919 + 1)
    bad = [attack_url(rng) for _ in range(TRAIN_BAD)]
    return good, bad


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


@dataclass
class Tallies:
    """Pure-Python ground truth over every generated line."""

    lines: int = 0
    traffic_bytes: int = 0
    host: Counter = field(default_factory=Counter)
    url: Counter = field(default_factory=Counter)
    status_code: Counter = field(default_factory=Counter)
    req_method: Counter = field(default_factory=Counter)
    second: Counter = field(default_factory=Counter)
    attacks: list[int] = field(default_factory=list)


class LogGen:
    """The line stream of a seed. ``lines(a, b)`` is pure in (seed, a, b),
    so any process regenerates a file from its first line and length."""

    def __init__(self, seed: int):
        from logvision_spark.ml.corpus import synth_good_urls

        self.seed = seed
        rng = random.Random(seed)
        self.hosts = [
            f"{rng.randrange(1, 224)}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
            for _ in range(N_HOSTS)
        ]
        urls = list(dict.fromkeys(u.replace(" ", "%20") for u in synth_good_urls(N_URLS, seed=seed + 1)))
        self.urls = urls
        self.host_cum = _zipf_cum(len(self.hosts), 1.1)
        self.url_cum = _zipf_cum(len(self.urls), 1.0)
        self.method_cum = list(itertools.accumulate(METHOD_W))
        self.status_cum = list(itertools.accumulate(STATUS_W))
        self._stamps: dict[int, str] = {}

    def _stamp(self, t: int) -> str:
        s = self._stamps.get(t)
        if s is None:
            tm = time.gmtime(t)
            s = self._stamps[t] = (
                f"{tm.tm_mday:02d}/{MONTHS[tm.tm_mon - 1]}/{tm.tm_year}:"
                f"{tm.tm_hour:02d}:{tm.tm_min:02d}:{tm.tm_sec:02d} +0000"
            )
        return s

    def _line(self, i: int, rng: random.Random) -> tuple[str, dict | None]:
        r = rng.random()
        if r < MALFORMED_P:
            return f"malformed entry {i} <truncated", None
        t = BASE_EPOCH + i // LINES_PER_LOG_SECOND
        rnd = rng.random
        host = self.hosts[bisect.bisect(self.host_cum, rnd() * self.host_cum[-1])]
        attack = r < MALFORMED_P + ATTACK_P
        url = (attack_url(rng, i) if attack else
               self.urls[bisect.bisect(self.url_cum, rnd() * self.url_cum[-1])])
        method = METHODS[bisect.bisect(self.method_cum, rnd() * self.method_cum[-1])]
        status = STATUSES[bisect.bisect(self.status_cum, rnd() * self.status_cum[-1])]
        nbytes = int(100 + rnd() * 49_900) if rnd() < 0.95 else None
        user = f"u{int(rnd() * 50)}" if rnd() < 0.3 else "-"
        line = (
            f'{host} - {user} [{self._stamp(t)}] "{method} {url} HTTP/1.1" {status} '
            f'{nbytes if nbytes is not None else "-"} "-" "{AGENTS[int(rnd() * 4)]}"'
        )
        rec = {"host": host, "url": url, "status": status, "method": method,
               "bytes": nbytes or 0, "second": t, "attack": attack}
        return line, rec

    def lines(self, start: int, stop: int, tallies: Tallies | None = None) -> list[str]:
        rng = random.Random(f"{self.seed}:{start}")
        out = []
        for i in range(start, stop):
            line, rec = self._line(i, rng)
            out.append(line)
            if tallies is not None:
                tallies.lines += 1
                if rec is not None:
                    tallies.traffic_bytes += rec["bytes"]
                    tallies.host[rec["host"]] += 1
                    tallies.url[rec["url"]] += 1
                    tallies.status_code[rec["status"]] += 1
                    tallies.req_method[rec["method"]] += 1
                    tallies.second[rec["second"]] += 1
                    if rec["attack"]:
                        tallies.attacks.append(i)
        return out


def write_file(path: str, lines: list[str]) -> None:
    """Write then rename, so a directory watcher never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def write_files(gen: LogGen, out_dir: str, first_line: int, n_files: int,
                lines_per_file: int, prefix: str, tallies: Tallies | None = None) -> int:
    """Stage ``n_files`` consecutive files; returns the next line index."""
    os.makedirs(out_dir, exist_ok=True)
    i = first_line
    for k in range(n_files):
        write_file(os.path.join(out_dir, f"{prefix}-{k:06d}.log"),
                   gen.lines(i, i + lines_per_file, tallies))
        i += lines_per_file
    return i


def tail_main(argv: list[str]) -> int:
    """Open-loop tail: file k is due at ``t0 + k * period`` (monotonic
    clock, shared by every process on the host) whatever the consumer
    does. The lines are generated first; then the process prints
    ``ready`` and reads ``t0`` from its standard input, so the loop
    itself only writes and renames."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--first-line", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    a = ap.parse_args(argv)
    gen = LogGen(a.seed)
    batches = [gen.lines(a.first_line + k * a.lines, a.first_line + (k + 1) * a.lines)
               for k in range(a.files)]
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    stamps = []
    for k, lines in enumerate(batches):
        due = t0 + k * a.period
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        write_file(os.path.join(a.out, f"tail-{k:06d}.log"), lines)
        stamps.append({"file": k, "due": due, "written": time.monotonic(),
                       "first_line": a.first_line + k * a.lines, "lines": a.lines})
    with open(a.manifest, "w") as f:
        f.write("\n".join(json.dumps(s) for s in stamps) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(tail_main(sys.argv[1:]))
