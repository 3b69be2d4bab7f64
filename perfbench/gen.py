"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes its input
as several files (so a scan's parallelism comes from the data, not from
one split) and returns a manifest: what was planted and how big the
input is. The same seed always gives byte-identical files.

- ``gen_logs``: raw access logs in four formats (apache combined,
  nginx-style empty referrer, common log format, IIS W3C) with planted
  500-bursts followed by successes, DirSearch (DS01) keyword scans,
  webshell URIs, percent-encoded URIs, cross-source duplicate lines,
  unparseable lines and a Zipf-skewed client IP mix.
- ``gen_registry``: the ``documents``, ``events`` and ``embeddings``
  tables the registry queries read, shaped like the project's sf0.01
  test tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
BASE_TIME = dt.datetime(2025, 4, 21, tzinfo=dt.timezone.utc)

UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_1) AppleWebKit/605.1.15 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/119.0 Safari/537.36",
    "curl/8.4.0",
    "python-requests/2.31.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]
# IIS logs write spaces in the user agent as '+'.
IIS_UAS = [u.replace(" ", "+") for u in UAS]
REFERRERS = ["-", "-", "-", "https://example.com/", "https://search.example.org/?q=shop"]
WORDS = ["shoes", "hat", "lamp", "desk", "chair", "phone", "cable", "book", "pen", "mug"]
# Background URIs: no sensitive path, traversal, webshell or DS01
# keyword, so their URI risk stays far below the triage threshold.
PLAIN_URIS = [
    "/", "/index.html", "/about", "/contact", "/products", "/cart",
    "/static/app.js", "/static/site.css", "/img/logo.png", "/favicon.ico",
    "/blog/spark-tips", "/blog/log-triage", "/api/v1/health",
]
ENCODED_URIS = ["/search?q=caf%C3%A9", "/files/my%20notes.pdf", "/search?q=a%2Bb", "/wiki/%E6%97%A5%E6%9C%AC"]
BG_METHODS = (["GET", "POST", "HEAD", "PUT", "DELETE", "OPTIONS"], [0.78, 0.14, 0.04, 0.02, 0.01, 0.01])
BG_STATUS = ([200, 304, 301, 302, 404, 403, 500, 201], [0.70, 0.08, 0.04, 0.02, 0.11, 0.02, 0.02, 0.01])
# DirSearch default-dictionary keywords (the DS01 signature) — one URI each.
DS01_URIS = ["/.access", "/logs/.bak_0.log", "/.chef/config.rb", "/.isort.cfg", "/.spacemacs", "/~xfs"]
SCAN_NOISE = ["/admin/", "/backup.zip", "/old/", "/test/", "/wp-admin/", "/server-status", "/db/"]
# Webshell basenames from conf/shells_sample.txt (none carries a static
# extension, so the default extension filter never hides a hit).
SHELLS = ["c99.php", "r57.php", "wso.php", "b374k.php", "cmd.aspx", "shell.jsp", "up.php"]
GARBAGE = [
    "complete garbage line {i}",
    "<html><body>error {i}</body></html>",
    "GET /index.html HTTP/1.1 {i}",
    "{i} 2025 unexpected token stream",
]

# file name -> line format. Apache-family files share the bracketed
# timestamp text, which is what makes cross-source duplicates possible.
LOG_FILES = [
    ("access_a.log", "apache"),
    ("access_b.log", "apache"),
    ("access_c.log", "nginx"),
    ("edge_d.log", "apache"),
    ("legacy_e.log", "clf"),
    ("legacy_f.log", "clf"),
    ("iis_g.log", "iis"),
    ("iis_h.log", "iis"),
]


def _apache_ts(t: dt.datetime) -> str:
    return f"{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0000"


def _line(fmt: str, ip, t, method, uri, status, size, ref, ua_i) -> str:
    if fmt == "iis":
        return (
            f"{t:%Y-%m-%d %H:%M:%S} W3SVC1 {method} {uri} - 443 - {ip} "
            f"{IIS_UAS[ua_i]} {ref} {status} 0 0 {size}"
        )
    head = f'{ip} - - [{_apache_ts(t)}] "{method} {uri} HTTP/1.1" {status}'
    if fmt == "clf":
        return f"{head} {size if size else '-'}"
    if fmt == "nginx":
        return f'{head} {size} "" "{UAS[ua_i]}"'
    return f'{head} {size} "{ref}" "{UAS[ua_i]}"'


def _zipf_ips(rng: np.random.Generator, n_pool: int, n: int) -> list[str]:
    ranks = np.arange(1, n_pool + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    pool = [f"10.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}" for i in rng.permutation(n_pool) + 4096]
    return [pool[i] for i in rng.choice(n_pool, size=n, p=p)]


def gen_logs(out_dir: str, seed: int, n_lines: int = 20000) -> dict:
    """Write seeded raw access logs under `out_dir`; return the manifest.

    The planted counts are what the triage check expects. Background
    lines never carry a DS01 keyword or a webshell basename, their 500s
    are far too sparse to form a burst, and a key set rejects any
    background line that would duplicate another one, so only the
    planted copies are cross-source duplicates."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    span = 6 * 3600  # six hours of traffic
    # per-file rows: (epoch second, tiebreak, text)
    rows: dict[str, list[tuple[int, int, str]]] = {f: [] for f, _ in LOG_FILES}
    fmt_of = dict(LOG_FILES)
    tie = iter(range(10**9))
    seen_keys: set[tuple] = set()
    by_file_bg: dict[str, list[tuple]] = {f: [] for f, _ in LOG_FILES}

    def add(fname, sec, ip, method, uri, status, size, ref, ua_i):
        t = BASE_TIME + dt.timedelta(seconds=int(sec))
        rows[fname].append((int(sec), next(tie), _line(fmt_of[fname], ip, t, method, uri, status, size, ref, ua_i)))

    n_bg = int(n_lines * 0.9)
    ips = _zipf_ips(rng, 3000, n_bg)
    files = rng.integers(0, len(LOG_FILES), size=n_bg)
    secs = rng.integers(0, span, size=n_bg)
    meths = rng.choice(len(BG_METHODS[0]), size=n_bg, p=BG_METHODS[1])
    stats = rng.choice(len(BG_STATUS[0]), size=n_bg, p=BG_STATUS[1])
    sizes = rng.integers(30, 50000, size=n_bg)
    uas = rng.integers(0, len(UAS), size=n_bg)
    refs = rng.integers(0, len(REFERRERS), size=n_bg)
    kinds = rng.random(size=n_bg)
    items = rng.integers(1, 500, size=n_bg)
    n_encoded = 0
    for i in range(n_bg):
        fname = LOG_FILES[files[i]][0]
        if kinds[i] < 0.03:
            uri = ENCODED_URIS[items[i] % len(ENCODED_URIS)]
            n_encoded += 1
        elif kinds[i] < 0.35:
            uri = f"/products/{items[i]}?ref={WORDS[items[i] % len(WORDS)]}"
        else:
            uri = PLAIN_URIS[items[i] % len(PLAIN_URIS)]
        row = (fname, secs[i], ips[i], BG_METHODS[0][meths[i]], uri, BG_STATUS[0][stats[i]],
               int(sizes[i]), REFERRERS[refs[i]], int(uas[i]))
        key = row[1:]
        if key in seen_keys:
            continue  # would be an unplanned cross-source duplicate
        seen_keys.add(key)
        add(*row)
        if fmt_of[fname] == "apache":
            by_file_bg[fname].append(row)

    # 500-bursts (>=100 failures, gaps <= 1 s) then 1-3 successes on
    # the same (source, ip, uri) inside the same session.
    n_bursts = max(2, n_lines // 5000)
    burst_success = 0
    for b in range(n_bursts):
        fname = ["access_a.log", "edge_d.log", "legacy_e.log"][b % 3]
        ip = f"198.51.100.{b + 1}"
        uri = f"/api/v2/auth/token{b}"
        sec = int(rng.integers(600, span - 1200))
        size = int(rng.integers(40, 400))
        for _ in range(int(rng.integers(100, 141))):
            add(fname, sec, ip, "POST", uri, 500, size, "-", 4)
            sec += int(rng.integers(0, 2))
        for _ in range(int(rng.integers(1, 4))):
            sec += int(rng.integers(2, 20))
            add(fname, sec, ip, "POST", uri, 200, size + 50, "-", 4)
            burst_success += 1

    # DirSearch scans: the six DS01 keyword URIs once each, mixed with
    # non-keyword probes, a few seconds apart (one session).
    n_scans = max(2, n_lines // 4000)
    for s in range(n_scans):
        fname = ["access_b.log", "legacy_f.log", "access_c.log"][s % 3]
        ip = f"192.0.2.{s + 1}"
        sec = int(rng.integers(600, span - 1200))
        probes = list(DS01_URIS) + [SCAN_NOISE[j] for j in rng.integers(0, len(SCAN_NOISE), size=10)]
        for j in rng.permutation(len(probes)):
            add(fname, sec, ip, "GET", probes[j], 404, 162, "-", 5)
            sec += int(rng.integers(1, 6))

    # Webshell hits (status 200): every third one percent-encodes the
    # basename's dot, which routes it through the Arrow URI-risk UDF.
    n_shell = max(3, n_lines // 2000)
    for w in range(n_shell):
        fname = LOG_FILES[w % len(LOG_FILES)][0]
        shell = SHELLS[w % len(SHELLS)]
        if w % 3 == 2:
            shell = shell.replace(".", "%2E")
        add(fname, int(rng.integers(0, span)), f"203.0.113.{w % 250 + 1}", "POST",
            f"/upload/files/{shell}", 200, int(rng.integers(100, 900)), "-", 3)

    # Cross-source duplicates: copies (user agent case-flipped, which
    # the dedup key normalizes away) of apache-format background lines
    # into another apache-format file. Each copy makes its key span two
    # sources, so each one is exactly one removal.
    n_dups = max(5, n_lines // 200)
    apache_files = [f for f, k in LOG_FILES if k == "apache"]
    for d in range(n_dups):
        src = apache_files[d % len(apache_files)]
        dst = apache_files[(d + 1) % len(apache_files)]
        pool = by_file_bg[src]
        _, sec, ip, method, uri, status, size, ref, ua_i = pool[int(rng.integers(0, len(pool)))]
        t = BASE_TIME + dt.timedelta(seconds=int(sec))
        text = _line("apache", ip, t, method, uri, status, size, ref, ua_i)
        rows[dst].append((int(sec), next(tie), text.replace(UAS[ua_i], UAS[ua_i].upper())))
    n_parsed = sum(len(v) for v in rows.values())

    # Unparseable lines (routed to the errors frame), plus blank and
    # comment lines (skipped, not errors).
    n_err = max(4, n_lines // 500)
    for e in range(n_err):
        fname = LOG_FILES[e % len(LOG_FILES)][0]
        rows[fname].append((int(rng.integers(0, span)), next(tie), GARBAGE[e % len(GARBAGE)].format(i=e)))
    for fname, _ in LOG_FILES:
        rows[fname].append((0, -2, "# log rotated"))
        rows[fname].append((span // 2, next(tie), ""))

    n_bytes = 0
    for fname, lines in rows.items():
        lines.sort()
        data = ("\n".join(r[2] for r in lines) + "\n").encode()
        with open(os.path.join(out_dir, fname), "wb") as fh:
            fh.write(data)
        n_bytes += len(data)
    return {
        "files": len(rows),
        "lines": sum(len(v) for v in rows.values()),
        "bytes": n_bytes,
        "parsed": n_parsed,
        "errors": n_err,
        "dups": n_dups,
        "bursts": n_bursts,
        "burst_success": burst_success,
        "tool_scans": n_scans,
        "tool_rows": n_scans * len(DS01_URIS),
        "webshell_hits": n_shell,
        "encoded": n_encoded,
    }


REG_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])


def gen_registry(out_dir: str, seed: int, n_docs: int = 500, n_events: int = 10000, n_vecs: int = 500) -> dict:
    """Write seeded documents/events/embeddings parquet tables shaped
    like the project's sf0.01 tables (same schemas, vocabulary, sizes,
    near-duplicate rate and value distributions)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier doc: the same text plus " dup"
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            toks = rng.integers(0, len(REG_WORDS), size=int(rng.integers(10, 100)))
            texts.append(" ".join(REG_WORDS[t] for t in toks))
    langs = rng.choice(len(LANGS[0]), size=n_docs, p=LANGS[1])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[0][i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    gaps = rng.exponential(30 * 86400 / n_events, size=n_events)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + 1704067200 * 10**6
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, size=n_events)],
        "value": np.round(rng.exponential(50.0, size=n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
    })
    n_bytes = 0
    for name, t in (("documents", docs), ("events", events), ("embeddings", emb)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        n_bytes += os.path.getsize(path)
    return {"files": 3, "docs": n_docs, "events": n_events, "vectors": n_vecs, "bytes": n_bytes}
