"""Seeded input generators and their ground truth.

Everything the lake receives is made here from seeded ``random.Random``
streams; the expected results travel alongside, so every output check compares
against values computed independently of the program under test.

Event shapes are the five fixture kinds (cloudtrail, cloudfront,
vpc_flow, syslog, gsuite) with randomized IPs, timestamp spellings and
extra nesting.  Every event carries a unique ``bench_key`` that the
event-shell plugin demotes into ``details``; checks join on it.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

EVENT_NAMES = ("ConsoleLogin", "AssumeRole", "GetObject", "PutObject", "CreateLogStream")
USERS = tuple(f"user{i:03d}@corp.example" for i in range(60))


@dataclass
class Expected:
    """What the plugin pipeline must produce for one event."""

    utctimestamp: str
    ips: list
    source: str  # source as written by normalize_df without an intake tag
    shape: str
    ts: datetime
    user: str | None = None
    failed_login: bool = False
    eventname: str | None = None
    summary: str = "UNKNOWN"


def epoch(seed: int) -> datetime:
    """The instant a run's ingest and stream events are dated back from."""
    return datetime(2025, 6, 1, tzinfo=timezone.utc) + timedelta(hours=random.Random(seed).randrange(24 * 90))


def ip(rng: random.Random) -> str:
    return f"{rng.randint(11, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"


def _nest(rng: random.Random, depth: int) -> dict:
    node: dict = {"v": rng.randint(0, 10**6)}
    for level in range(depth):
        node = {f"n{level}": node, f"w{level}": rng.choice(("a", "b", "c"))}
    return node


@dataclass
class EventGen:
    """Makes events of one traffic profile.  ``shape_weights`` sets the
    mix; ``max_depth`` bounds the extra nesting added to each event."""

    rng: random.Random
    shape_weights: dict
    max_depth: int
    ip_pool: list = field(default_factory=list)

    def __post_init__(self):
        if not self.ip_pool:
            self.ip_pool = [ip(self.rng) for _ in range(400)]

    def pick_shape(self) -> str:
        shapes = list(self.shape_weights)
        return self.rng.choices(shapes, weights=[self.shape_weights[s] for s in shapes])[0]

    def event(self, shape: str, ts: datetime, key: str, **kw) -> tuple[dict, Expected]:
        return getattr(self, "_" + shape)(ts, key, **kw)

    def _ctx(self) -> dict:
        return _nest(self.rng, self.rng.randint(0, self.max_depth))

    def _cloudtrail(self, ts, key, raw_record=False, src=None, eventname=None):
        rng = self.rng
        src = src or rng.choice(self.ip_pool)
        eventname = eventname or rng.choice(EVENT_NAMES)
        body = {
            "eventVersion": "1.08",
            "eventTime": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "eventSource": "sts.amazonaws.com",
            "eventName": eventname,
            "awsRegion": rng.choice(("us-east-1", "us-west-2", "eu-west-1")),
            "sourceIPAddress": src,
            "userAgent": "aws-cli/2.15",
            "requestID": f"{rng.getrandbits(64):016x}",
            "userIdentity": {"type": "IAMUser", "accountId": "123456789012",
                             "userName": rng.choice(USERS).split("@")[0]},
            "ctx": self._ctx(),
            "bench_key": key,
        }
        exp = Expected(ts.isoformat(), [src], "cloudtrail", "cloudtrail", ts, eventname=eventname)
        if raw_record:
            return body, exp
        details = {k.lower(): v for k, v in body.items() if k != "bench_key"}
        return {"source": "cloudtrail", "tags": [], "details": details, "bench_key": key}, exp

    def _cloudfront(self, ts, key):
        rng = self.rng
        cip = rng.choice(self.ip_pool)
        return {
            "date": ts.strftime("%Y-%m-%d"),
            "time": ts.strftime("%H:%M:%S"),
            "x-edge-location": "SEA19-C1",
            "sc-bytes": rng.randint(100, 90000),
            "c-ip": cip,
            "cs-method": rng.choice(("GET", "POST")),
            "cs-uri-stem": rng.choice(("/", "/wp-login.php", "/api/v1/items", "/static/app.js")),
            "sc-status": rng.choice((200, 301, 404, 500)),
            "x-forwarded-for": "-",
            "time-taken": round(rng.random(), 3),
            "ctx": self._ctx(),
            "bench_key": key,
        }, Expected(ts.isoformat(), [cip], "UNKNOWN", "cloudfront", ts)

    def _vpc_flow(self, ts, key, src=None, dst=None):
        rng = self.rng
        src = src or rng.choice(self.ip_pool)
        dst = dst or rng.choice(self.ip_pool)
        spelling = rng.randrange(3)
        if spelling == 0:
            start = ts.strftime("%Y-%m-%dT%H:%M:%S")  # naive: the lake runs in UTC
        elif spelling == 1:
            start = int(ts.timestamp())
        else:
            start = (ts + timedelta(hours=2)).strftime("%Y-%m-%dT%H:%M:%S+02:00")
        return {
            "version": 2,
            "account_id": "123456789012",
            "interface_id": f"eni-{rng.getrandbits(32):08x}",
            "srcaddr": src,
            "dstaddr": dst,
            "srcport": rng.randint(1024, 65535),
            "dstport": rng.choice((22, 53, 443, 8080)),
            "protocol": 6,
            "packets": rng.randint(1, 100),
            "bytes": rng.randint(40, 100000),
            "start": start,
            "action": rng.choice(("ACCEPT", "REJECT")),
            "log_status": "OK",
            "ctx": self._ctx(),
            "bench_key": key,
        }, Expected(ts.isoformat(), [src, dst], "UNKNOWN", "vpc_flow", ts)

    def _syslog(self, ts, key):
        rng = self.rng
        prog = rng.choice(("sudo", "sshd", "cron", "systemd"))
        summary = f"{prog}[{rng.randint(100, 99999)}]: session {rng.getrandbits(40):x} opened"
        return {
            "category": "monitoring",
            "severity": "INFO",
            "utctimestamp": ts.isoformat(),
            "summary": summary,
            "source": "syslog",
            "tags": ["sample"],
            "details": {
                "program": prog,
                "hostname": f"host{rng.randint(1, 40)}.corp.example",
                "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S"),
                "ctx": self._ctx(),
            },
            "bench_key": key,
        }, Expected(ts.isoformat(), [], "syslog", "syslog", ts, summary=summary)

    def _gsuite(self, ts, key, user=None, src=None, failed=None):
        rng = self.rng
        user = user or rng.choice(USERS)
        src = src or rng.choice(self.ip_pool)
        failed = (rng.random() < 0.2) if failed is None else failed
        ts = ts.replace(microsecond=rng.randrange(1000) * 1000)
        name = "login_failure" if failed else "login_success"
        return {
            "kind": "admin#reports#activity",
            "id": {
                "time": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
                "uniqueQualifier": str(rng.getrandbits(48)),
                "applicationName": "login",
                "customerId": "C0123abc",
            },
            "etag": f'"{rng.getrandbits(40):x}/{rng.getrandbits(40):x}"',
            "actor": {"email": user, "profileId": str(rng.getrandbits(40))},
            "ipAddress": src,
            "events": [{
                "type": "login",
                "name": name,
                "parameters": [{"name": "login_type", "value": "exchange"},
                               {"name": "is_suspicious", "boolValue": False}],
            }],
            "ctx": self._ctx(),
            "bench_key": key,
        }, Expected(ts.isoformat(), [src], "gsuite", "gsuite", ts, user=user, failed_login=failed,
                    summary=f"{user} {name} from IP {src}")


def malformed(line: str) -> str:
    """A line that can never parse: the object cut in half."""
    return line[: len(line) // 2]


# --------------------------------------------------------------------------
# ingest batches (write side, closed loop)


@dataclass
class Batch:
    ndjson_dir: str
    blob_dir: str | None
    good: dict  # bench_key -> Expected, for the events that must land
    malformed: int  # NDJSON lines that must be quarantined
    input_bytes: int
    n_events: int


def make_batch(gen: EventGen, root: str, tag: str, n_events: int, n_files: int,
               malformed_share: float, blob_share: float, epoch: datetime) -> Batch:
    """Land one ingest batch: ``n_events`` events over ``n_files``
    NDJSON files, plus a ``blob_share`` of CloudTrail events as gzipped
    ``Records`` bundles (one per file) for the whole-file intake."""
    rng = gen.rng
    nd_dir = os.path.join(root, tag, "ndjson")
    os.makedirs(nd_dir)
    n_blob = int(n_events * blob_share)
    n_nd = n_events - n_blob
    good: dict = {}
    bad = 0
    nbytes = 0
    seq = 0
    per_file = -(-n_nd // n_files)
    for f in range(n_files):
        lines = []
        for _ in range(min(per_file, n_nd - f * per_file)):
            key = f"{tag}-{seq}"
            seq += 1
            ts = epoch - timedelta(seconds=rng.randrange(86400))
            ev, exp = gen.event(gen.pick_shape(), ts, key)
            line = json.dumps(ev)
            if rng.random() < malformed_share:
                line = malformed(line)
                bad += 1
            else:
                good[key] = exp
            lines.append(line)
        data = ("\n".join(lines) + "\n").encode()
        nbytes += len(data)
        with open(os.path.join(nd_dir, f"part-{f:04d}.json"), "wb") as fh:
            fh.write(data)
    blob_dir = None
    if n_blob:
        blob_dir = os.path.join(root, tag, "blob")
        os.makedirs(blob_dir)
        per_bundle = max(1, n_blob // max(1, n_files // 2))
        b = 0
        while n_blob > 0:
            records = []
            for _ in range(min(per_bundle, n_blob)):
                key = f"{tag}-{seq}"
                seq += 1
                ts = epoch - timedelta(seconds=rng.randrange(86400))
                rec, exp = gen.event("cloudtrail", ts, key, raw_record=True)
                exp.source = "cloudtrail"
                good[key] = exp
                records.append(rec)
            n_blob -= len(records)
            data = gzip.compress(json.dumps({"Records": records}).encode(), 6)
            nbytes += len(data)
            name = f"123456789012_cloudtrail_{tag}-{b}.json.gz"
            with open(os.path.join(blob_dir, name), "wb") as fh:
                fh.write(data)
            b += 1
    return Batch(nd_dir, blob_dir, good, bad, nbytes, n_events)


# --------------------------------------------------------------------------
# history (read side)


@dataclass
class History:
    lines: list  # raw JSON strings, one per event
    expected: dict  # bench_key -> Expected
    hours: list  # sorted list of (y, m, d, h) strings, oldest first
    planted_burst: tuple  # (user, ip)
    planted_spray: str  # ip
    planted_beacon: tuple  # (src, dst)


def make_history(gen: EventGen, n_hours: int, events_per_hour: int) -> History:
    """``n_hours`` of mixed events ending at a seeded hour, with a
    planted brute-force burst, a password spray and a C2 beacon."""
    rng = gen.rng
    end = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(hours=rng.randrange(24 * 300))
    start = end - timedelta(hours=n_hours)
    lines: list = []
    expected: dict = {}

    def add(ev, exp):
        lines.append(json.dumps(ev))
        expected[ev["bench_key"]] = exp

    seq = 0

    def key():
        nonlocal seq
        seq += 1
        return f"h-{seq}"

    for h in range(n_hours):
        base = start + timedelta(hours=h)
        for _ in range(events_per_hour):
            ts = base + timedelta(seconds=rng.randrange(3600))
            add(*gen.event(gen.pick_shape(), ts, key()))
    mid = start + timedelta(hours=n_hours // 2, minutes=7)
    burst_user, burst_ip = rng.choice(USERS), ip(rng)
    for i in range(8):  # 8 failures inside one 10-minute window
        add(*gen.event("gsuite", mid + timedelta(seconds=20 * i), key(),
                       user=burst_user, src=burst_ip, failed=True))
    spray_ip = ip(rng)
    for i, user in enumerate(rng.sample(USERS, 9)):  # 9 accounts, one try each
        add(*gen.event("gsuite", mid + timedelta(minutes=2 + 3 * i, seconds=5), key(),
                       user=user, src=spray_ip, failed=True))
    b_src, b_dst = ip(rng), ip(rng)
    b0 = start + timedelta(minutes=rng.randrange(30))
    for i in range(24):  # a check-in every 5 minutes, +-2 s jitter
        ts = b0 + timedelta(seconds=300 * i + rng.randint(-2, 2))
        add(*gen.event("vpc_flow", ts, key(), src=b_src, dst=b_dst))
    used = {hour_of(e.ts) for e in expected.values()}
    return History(lines, expected, sorted(used), (burst_user, burst_ip), spray_ip, (b_src, b_dst))


def hour_of(ts: datetime) -> tuple:
    return (f"{ts.year}", f"{ts.month:02d}", f"{ts.day:02d}", f"{ts.hour:02d}")


_HEX8 = re.compile(r"[0-9a-fA-F]{8,}")
_DIGITS = re.compile(r"\d+")


def summary_shape(summary: str) -> str:
    """Python twin of ``detections.rare_event_scores``'s summary shape."""
    return _DIGITS.sub("#", _HEX8.sub("#", summary))


# --------------------------------------------------------------------------
# stream files (open loop)


def stream_file(gen: EventGen, tag: str, n_events: int, epoch: datetime) -> tuple[str, list]:
    keys, lines = [], []
    for i in range(n_events):
        key = f"{tag}-{i}"
        ev, _ = gen.event(gen.pick_shape(), epoch - timedelta(seconds=gen.rng.randrange(600)), key)
        keys.append(key)
        lines.append(json.dumps(ev))
    return "\n".join(lines) + "\n", keys


# --------------------------------------------------------------------------
# curation corpus


@dataclass
class Corpus:
    doc_ids: list
    texts: list
    distinct_texts: int  # exact-dedup survivors
    near_pairs: set  # planted (original_id, near_copy_id)
    vec_ids: np.ndarray
    vectors: np.ndarray  # (n, dim) float64
    labels: np.ndarray  # cluster per vector (the IVF lists)
    query_ids: list


def make_corpus(rng: random.Random, n_docs: int, exact_share: float, near_share: float,
                n_vecs: int, dim: int, n_clusters: int, n_queries: int) -> Corpus:
    vocab = [f"w{rng.getrandbits(30):x}" for _ in range(3000)]
    texts, ids = [], []
    n_base = int(n_docs * (1 - exact_share - near_share))
    for i in range(n_base):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60))))
    near_pairs = set()
    n_exact = int(n_docs * exact_share)
    for _ in range(n_exact):  # case and spacing differ, normalized text does not
        src = rng.randrange(n_base)
        texts.append("  " + texts[src].upper().replace(" ", "  ", 3))
    n_near = n_docs - n_base - n_exact
    for _ in range(n_near):  # two words replaced: 3-shingle Jaccard >= ~0.7
        src = rng.randrange(n_base)
        words = texts[src].split(" ")
        for pos in rng.sample(range(len(words)), 2):
            words[pos] = rng.choice(vocab)
        near_pairs.add((src, len(texts)))
        texts.append(" ".join(words))
    ids = list(range(len(texts)))
    nrng = np.random.default_rng(rng.getrandbits(32))
    centers = nrng.normal(size=(n_clusters, dim))
    labels = nrng.integers(0, n_clusters, size=n_vecs)
    vectors = centers[labels] + 0.35 * nrng.normal(size=(n_vecs, dim))
    query_ids = sorted(rng.sample(range(n_vecs), n_queries))
    return Corpus(ids, texts, n_base + n_near, near_pairs,
                  np.arange(n_vecs), vectors, labels, query_ids)


def brute_topk(c: Corpus, k: int) -> dict:
    """Exact cosine top-k per query (excluding the query itself)."""
    norm = c.vectors / np.linalg.norm(c.vectors, axis=1, keepdims=True)
    out = {}
    for q in c.query_ids:
        sims = norm @ norm[q]
        sims[q] = -np.inf
        order = np.lexsort((c.vec_ids, -sims))[:k]
        out[q] = [int(i) for i in order]
    return out
