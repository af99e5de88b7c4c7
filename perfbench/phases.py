"""The event-lake phases of a run: set-up (history build), analyst
queries, batch ingest and the live stream with a concurrent reader.

Each phase drives the program only through its public functions and
times each call from outside.  Output checks run after the timed part
of each phase and record failures on the context instead of raising.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import functions as F

import gen
from per_layer import DETECTIONS
from probe import median, quantile, scan_metrics

from defenda_data_lake_spark.detections import (
    account_activity_profiles,
    beaconing_candidates,
    failed_login_bursts,
    first_seen_ips,
    password_spray,
    rare_event_scores,
)
from defenda_data_lake_spark.functions.variant import variant_get_string, with_variant_details
from defenda_data_lake_spark.lake_maintenance import compact_partition
from defenda_data_lake_spark.lake import (
    EVENTS_TABLE,
    create_events_table,
    ingest_batch,
    repair_events_table,
)
from defenda_data_lake_spark.operators.file_index import (
    bloom_prune_files,
    build_bloom_file_index,
    read_with_bloom,
)
from defenda_data_lake_spark.operators.intake import read_blob_events, read_ndjson_events
from defenda_data_lake_spark.operators.pipeline import (
    STATUS_OK,
    add_partition_columns,
    normalize_df,
    write_events,
)
from defenda_data_lake_spark.streaming.ingest import start_ingest

TABLE_SQL = '"defenda_data_lake"."events"'

#: the live stream's trigger: a micro-batch of the live workload takes
#: about 1.5-2 s here, so a 3 s trigger leaves headroom; at 1 s the stream
#: runs saturated and any stall grows the backlog
TRIGGER_SECONDS = 3

#: timed query passes per run at least: one pass holds one sample per
#: template, too few for a steady median
MIN_PASSES = 2

#: Firehose deliveries per run at least, for the same reason
MIN_DELIVERIES = 3


def bench_key():
    """The generator's unique event key, demoted into ``details``."""
    return F.get_json_object("details", "$.bench_key")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _json_lines(directory: str) -> int:
    """Records in a directory of JSON-lines part files (a quarantine)."""
    if not os.path.isdir(directory):
        return 0
    n = 0
    for name in os.listdir(directory):
        if name.startswith("part-"):
            with open(os.path.join(directory, name)) as fh:
                n += sum(1 for line in fh if line.strip())
    return n


def _parquet_bytes(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# --------------------------------------------------------------------------
# set-up: history build


def land_history(ctx) -> None:
    """Write the seeded history as one NDJSON file, so the lake holds
    one file per hour partition."""
    p = ctx.profile
    ctx.history = gen.make_history(ctx.events("history"), p["history_hours"], p["history_events_per_hour"])
    ctx.history_dir = os.path.join(ctx.work, "history_landing")
    os.makedirs(ctx.history_dir)
    with open(os.path.join(ctx.history_dir, "history.json"), "w") as fh:
        fh.write("\n".join(ctx.history.lines) + "\n")


def setup_history(ctx, rep: int, last: bool) -> None:
    """Build the lake from landed history: pipeline, event-time hour
    partitions, partitioned write, partition repair and the eventid
    Bloom file index."""
    spark, tr = ctx.spark, ctx.tracer
    table_dir = os.path.join(ctx.work, f"lake{rep}", "events")
    index_dir = os.path.join(ctx.work, f"lake{rep}", "eventid_bloom")
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    with tr.span("setup.pipeline_write"):
        raw = spark.read.text(ctx.history_dir).select(F.col("value").alias("raw"))
        norm = normalize_df(raw)
        ts = F.col("utctimestamp")
        good = norm.filter(norm["_status"] == STATUS_OK).select(
            *norm.columns,
            F.substring(ts, 1, 4).alias("year"),
            F.substring(ts, 6, 2).alias("month"),
            F.substring(ts, 9, 2).alias("day"),
            F.substring(ts, 12, 2).alias("hour"),
        )
        write_events(good, table_dir)
    with tr.span("lake.create_repair"):
        create_events_table(spark, location=table_dir)
        repair_events_table(spark)
    with tr.span("file_index.build"):
        build_bloom_file_index(spark, table_dir, "eventid", index_dir)
    ctx.table_dir, ctx.index_dir = table_dir, index_dir


def after_setup_checks(ctx) -> None:
    """History landed exactly; sample eventids for the point lookups."""
    rows = ctx.spark.table(EVENTS_TABLE).select(
        "eventid", bench_key().alias("k"), "year", "month", "day", "hour", "utctimestamp"
    ).collect()
    h = ctx.history
    keys = [r["k"] for r in rows]
    ctx.check("setup.history_rows", len(keys) == len(h.expected) and set(keys) == set(h.expected),
              f"{len(keys)} rows for {len(h.expected)} events")
    bad_part = [r for r in rows if r["utctimestamp"][:13] != f"{r['year']}-{r['month']}-{r['day']}T{r['hour']}"]
    ctx.check("setup.event_time_partitions", not bad_part, f"{len(bad_part)} rows off their hour")
    rows.sort(key=lambda r: r["k"])
    ctx.rng("lookups").shuffle(rows)
    ctx.lookup_ids = [(r["eventid"], r["k"]) for r in rows[:64]]
    ctx.table_files = _parquet_bytes(ctx.table_dir)[0]


# --------------------------------------------------------------------------
# analyst queries (closed loop, one client)


def _hours_predicate(hours) -> str:
    return "(" + " OR ".join(
        f"(year='{y}' AND month='{m}' AND day='{d}' AND hour='{hh}')" for y, m, d, hh in hours
    ) + ")"


def _src_ip(e: gen.Expected):
    return e.ips[0] if e.ips and e.shape != "syslog" else None


class QueryMix:
    """The analyst's templates, cycled in a fixed order with seeded
    parameters.  Each template runs its query to completion and returns
    (executed DataFrame, rows returned, output correct, detail)."""

    def __init__(self, ctx):
        self.ctx = ctx
        h = ctx.history
        self.rng = ctx.rng("queries")
        self.window = h.hours[-ctx.profile["hours_queried"]:]
        self.exp = list(h.expected.values())
        self.templates = [
            ("readme_eventname", self.readme_eventname),
            ("readme_ip_contains", self.readme_ip),
            ("hours_source_counts", self.hours_counts),
            ("hours_top_ips", self.top_ips),
            ("bloom_lookup", self.bloom_lookup),
            ("failed_login_bursts", self.det(failed_login_bursts)),
            ("password_spray", self.det(password_spray)),
            ("beaconing_candidates", self.det(beaconing_candidates)),
            ("first_seen_ips", self.det(first_seen_ips)),
            ("account_activity_profiles", self.det(account_activity_profiles)),
            ("rare_event_scores", self.det(rare_event_scores)),
        ]

    def _sql(self, text):
        df = self.ctx.spark.sql(text)
        return df, df.collect()

    def readme_eventname(self):
        name = self.rng.choice(gen.EVENT_NAMES)
        y, m = self.rng.choice(self.ctx.history.hours)[:2]
        df, rows = self._sql(f"""
            SELECT utctimestamp, summary, source, details
            FROM {TABLE_SQL}
            WHERE source='cloudtrail'
              AND json_extract_scalar(details,'$.eventname') = '{name}'
              AND year='{y}' AND month='{m}'
            LIMIT 100""")
        want = sum(1 for e in self.exp if e.eventname == name and gen.hour_of(e.ts)[:2] == (y, m))
        return df, len(rows), len(rows) == min(100, want), f"{len(rows)} rows, want {min(100, want)}"

    def readme_ip(self):
        e = self.rng.choice([e for e in self.exp if e.ips])
        target = self.rng.choice(e.ips)
        df, rows = self._sql(f"""SELECT utctimestamp FROM {TABLE_SQL}
            where json_array_contains(json_extract(details,'$._ipaddresses'),'{target}')""")
        want = sorted(x.utctimestamp for x in self.exp if target in x.ips)
        return df, len(rows), sorted(r[0] for r in rows) == want, f"{len(rows)} rows, want {len(want)}"

    def hours_counts(self):
        df, rows = self._sql(f"""SELECT source, count(*) AS n FROM {TABLE_SQL}
            WHERE {_hours_predicate(self.window)} GROUP BY source""")
        want: dict = {}
        win = set(self.window)
        for e in self.exp:
            if gen.hour_of(e.ts) in win:
                want[e.source] = want.get(e.source, 0) + 1
        return df, len(rows), {r[0]: r[1] for r in rows} == want, f"{len(rows)} groups"

    def top_ips(self):
        df, rows = self._sql(f"""
            SELECT json_extract_scalar(details,'$.sourceipaddress') AS ip, count(*) AS n
            FROM {TABLE_SQL}
            WHERE {_hours_predicate(self.window)}
              AND json_extract_scalar(details,'$.sourceipaddress') IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, ip LIMIT 10""")
        counts: dict = {}
        win = set(self.window)
        for e in self.exp:
            if gen.hour_of(e.ts) in win and _src_ip(e):
                counts[_src_ip(e)] = counts.get(_src_ip(e), 0) + 1
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return df, len(rows), [(r[0], r[1]) for r in rows] == want, f"{len(rows)} rows"

    def bloom_lookup(self):
        ctx = self.ctx
        if self.rng.random() < 0.75:
            eid, key = self.rng.choice(ctx.lookup_ids)
        else:
            eid, key = str(uuid.UUID(int=self.rng.getrandbits(128), version=4)), None
        df = read_with_bloom(ctx.spark, ctx.table_dir, ctx.index_dir, "eventid", eid)
        rows = df.select(bench_key().alias("k")).collect()
        got = [r[0] for r in rows]
        return df, len(rows), got == ([key] if key else []), f"{got} for {key}"

    def det(self, fn):
        def run():
            events = self.ctx.spark.table(EVENTS_TABLE).where(
                _hours_predicate(self.ctx.history.hours))
            df = fn(events)
            rows = df.collect()
            ok, detail = self.check_detection(fn.__name__, rows)
            return df, len(rows), ok, detail
        return run

    def check_detection(self, name, rows):
        h, exp = self.ctx.history, self.exp
        gs = [e for e in exp if e.shape == "gsuite"]
        if name == "failed_login_bursts":
            return any(r["src_ip"] == h.planted_burst[1] for r in rows), f"{len(rows)} findings"
        if name == "password_spray":
            return any(r["src_ip"] == h.planted_spray for r in rows), f"{len(rows)} findings"
        if name == "beaconing_candidates":
            return any((r["src_ip"], r["dst_ip"]) == h.planted_beacon for r in rows), f"{len(rows)} findings"
        if name == "first_seen_ips":
            want = len({(e.user, e.ips[0]) for e in gs})
            return len(rows) == want, f"{len(rows)} pairs, want {want}"
        if name == "account_activity_profiles":
            users = {e.user for e in gs}
            ok = len(rows) == len(users) and sum(r["n_events"] for r in rows) == len(gs)
            return ok, f"{len(rows)} users, want {len(users)}"
        if name == "rare_event_scores":
            cat = {"gsuite": "authentication", "syslog": "monitoring"}
            shapes = {(e.source, cat.get(e.shape, "UNKNOWN"), gen.summary_shape(e.summary)) for e in exp}
            return len(rows) == len(shapes), f"{len(rows)} groups, want {len(shapes)}"
        raise KeyError(name)


def run_cycle(ctx, mix, cycle: int, lat=None, per_t=None, scans=None) -> int:
    """One pass over every template; latencies go to ``lat`` and
    ``per_t`` when given (a warm-up pass passes none).  Returns the rows
    the pass returned."""
    tr, jobs = ctx.tracer, ctx.jobs
    returned = 0
    for name, fn in mix.templates:
        ctx.attempted += 1
        op = f"{cycle}.{name}"
        t0 = time.perf_counter()
        try:
            with jobs.op(f"query.{op}"), tr.span(f"query.{name}", op=op):
                df, n_rows, ok, detail = fn()
        except Exception as exc:  # a failed query is counted, the loop goes on
            ctx.fail(f"query.{name}", repr(exc))
            continue
        dt = time.perf_counter() - t0
        if not ok:
            ctx.fail(f"query.{name}", detail)
        if lat is not None:
            lat.append(dt)
            per_t.setdefault(name, []).append(dt)
        if scans is not None:
            with ctx.trace_only():
                scans.append(scan_metrics(df))
            returned += n_rows
    return returned


def warm_up(ctx) -> None:
    """Untimed: one pass of the query templates and one small mixed
    batch, so the timed phases meet planned query shapes, a started
    Python worker pool and JIT-compiled code instead of paying each
    first-time cost once inside a few samples.  Outputs are checked."""
    run_cycle(ctx, QueryMix(ctx), -1)
    p = ctx.profile
    # as many files as a large batch, so every Python worker is started
    batch = gen.make_batch(ctx.events("warm"), _ingest_root(ctx), "w0", p["delivery_events"],
                           p["batch_files"], p["malformed_share"], p["blob_share"], ctx.epoch)
    _ingest(ctx, "warm", "w0", batch)


def run_query(ctx, seconds: float) -> None:
    """Whole passes over the templates, so every template has the same
    number of samples: at least two (one if ``seconds`` is 0), then more
    while the next pass is expected to end within ``seconds``."""
    mix = QueryMix(ctx)
    tr = ctx.tracer
    lat, per_t, scans, returned = [], {}, [] if tr.enabled else None, 0
    t_start = time.perf_counter()
    cycle = 0
    while True:
        t0 = time.perf_counter()
        returned += run_cycle(ctx, mix, cycle, lat, per_t, scans)
        cycle += 1
        now = time.perf_counter()
        if cycle >= (MIN_PASSES if seconds else 1) and now + (now - t0) > t_start + seconds:
            break
    ctx.metrics["query_p50_s"] = median(lat)
    ctx.metrics["queries_per_s"] = len(lat) / sum(lat) if lat else float("nan")
    ctx.samples["query"] = len(lat)
    print(f"  query passes: {cycle}; per template (s): " + " ".join(
        f"{k}=" + "/".join(f"{x:.2f}" for x in v) for k, v in per_t.items()))
    if tr.enabled:
        pt = {k: median(v) for k, v in per_t.items()}
        n = max(1, len(scans))
        ctx.layer["scan.partitions_read_per_query"] = sum(s["partitions"] for s in scans) / n
        ctx.layer["scan.files_read_per_query"] = sum(s["files"] for s in scans) / n
        ctx.layer["scan.rows_read_per_row_returned"] = sum(s["rows"] for s in scans) / max(1, returned)
        ctx.layer["compat.json_extract_scalar_query_s_p50"] = pt.get("hours_top_ips", float("nan"))
        ctx.layer["compat.json_array_contains_query_s_p50"] = pt.get("readme_ip_contains", float("nan"))
        for det in DETECTIONS:
            ctx.layer[f"detections.{det}_s_p50"] = pt.get(det, float("nan"))
        ctx.layer["file_index.lookup_s_p50"] = pt.get("bloom_lookup", float("nan"))
        events = with_variant_details(ctx.spark.table(EVENTS_TABLE))
        with ctx.trace_only():
            # candidate files for stored ids: what the index saves a lookup
            found = [len(bloom_prune_files(ctx.spark, ctx.index_dir, eid, table_dir=ctx.table_dir))
                     for eid, _ in ctx.lookup_ids[:8]]
            ctx.layer["file_index.candidate_file_ratio"] = sum(found) / len(found) / ctx.table_files
            t0 = time.perf_counter()
            _noop(events.select(*[variant_get_string("details_v", f"$.{f}").alias(f)
                                  for f in ("user", "sourceipaddress", "destinationipaddress", "kind")]))
            ctx.layer["variant.projection_s"] = time.perf_counter() - t0


# --------------------------------------------------------------------------
# batch ingest (closed loop, one client)


def _ingest_root(ctx) -> str:
    root = os.path.join(ctx.work, "ingest")
    os.makedirs(root, exist_ok=True)
    return root


def _ingest(ctx, kind: str, tag: str, batch) -> float | None:
    """``lake.ingest_batch`` over one landed batch (NDJSON, then the gzipped
    bundles through blob mode); returns its duration, or None if it
    failed.  The batch joins ``ctx.ingested`` for the output checks."""
    qdir = os.path.join(_ingest_root(ctx), tag, "quarantine")
    ctx.attempted += 1
    t0 = time.perf_counter()
    try:
        with ctx.jobs.op(f"ingest.{kind}.{tag}"), ctx.tracer.span("lake.ingest_batch", op=tag):
            ingest_batch(ctx.spark, batch.ndjson_dir, mode="ndjson", quarantine_path=qdir)
            if batch.blob_dir:
                ingest_batch(ctx.spark, batch.blob_dir, mode="blob", quarantine_path=qdir)
    except Exception as exc:
        ctx.fail(f"ingest.{kind}", repr(exc))
        return None
    dt = time.perf_counter() - t0
    ctx.ingested.append((tag, batch, qdir))
    return dt


def run_fresh(ctx, seconds: float) -> None:
    """Firehose-sized deliveries, one NDJSON file each, each ingested as
    soon as it lands (closed loop): a delivery is fresh once
    ``ingest_batch`` returns, so its freshness is that call's duration.
    At least three deliveries (two if ``seconds`` is 0), then more while
    the next one is expected to end within ``seconds``."""
    p = ctx.profile
    events_gen = ctx.events("fresh")
    lat = []
    t_start = time.perf_counter()
    i = 0
    while True:
        batch = gen.make_batch(events_gen, _ingest_root(ctx), f"d{i}", p["delivery_events"], 1,
                               p["malformed_share"], 0.0, ctx.epoch)
        dt = _ingest(ctx, "fresh", f"d{i}", batch)
        i += 1
        if dt is not None:
            lat.append(dt)
        last = dt or 0.0
        if i >= (MIN_DELIVERIES if seconds else 2) and time.perf_counter() + last > t_start + seconds:
            break
    ctx.metrics["freshness_p50_s"] = median(lat)
    ctx.samples["freshness"] = len(lat)
    print("  deliveries (s): " + " ".join(f"{x:.2f}" for x in lat))


def run_ingest(ctx, seconds: float) -> None:
    """Large mixed batches, closed loop: at least one, then more while the
    next one is expected to end within ``seconds``."""
    p, tr = ctx.profile, ctx.tracer
    files0, bytes0 = _parquet_bytes(ctx.table_dir)
    landed_bytes = events = 0
    lat, batches = [], []
    events_gen = ctx.events("ingest")
    t_start = time.perf_counter()
    b = 0
    while True:
        batch = gen.make_batch(events_gen, _ingest_root(ctx), f"b{b}", p["batch_events"],
                               p["batch_files"], p["malformed_share"], p["blob_share"], ctx.epoch)
        dt = _ingest(ctx, "batch", f"b{b}", batch)
        b += 1
        if dt is not None:
            lat.append(dt)
            landed_bytes += batch.input_bytes
            events += batch.n_events
            batches.append(batch)
        if time.perf_counter() + (dt or 0.0) > t_start + seconds:
            break
    files1, bytes1 = _parquet_bytes(ctx.table_dir)
    ctx.metrics["ingest_events_per_s"] = events / sum(lat) if lat else float("nan")
    ctx.metrics["stored_bytes_per_input_byte"] = (bytes1 - bytes0) / max(1, landed_bytes)
    ctx.samples["ingest"] = len(lat)
    print("  ingest batches (s): " + " ".join(f"{x:.2f}" for x in lat))
    if tr.enabled and batches:
        ctx.layer["lake.files_written_per_batch"] = (files1 - files0) / len(batches)
        ctx.layer["lake.bytes_per_event"] = (bytes1 - bytes0) / max(1, events)
        with ctx.trace_only():
            decompose_ingest(ctx, batches[-1])


def decompose_ingest(ctx, batch) -> None:
    """Self time of intake, pipeline and lake write for the NDJSON part of
    one batch, from the lazy chain's prefixes materialized to the noop
    sink.  ``ingest_batch`` with a quarantine path evaluates the chain
    twice (good rows into the table, bad rows into the quarantine), so
    the lake's self time is its duration less both chains."""
    spark = ctx.spark

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def normalized():
        return normalize_df(read_ndjson_events(spark, batch.ndjson_dir), raw_col="raw", source_col="source")

    def good():
        n = normalized()
        return add_partition_columns(n.filter(n["_status"] == STATUS_OK)).drop("_status", "_raw")

    def bad():
        n = normalized()
        return n.filter(n["_status"] != STATUS_OK).select("_status", "_raw")

    intake = timed(lambda: _noop(read_ndjson_events(spark, batch.ndjson_dir)))
    piped = timed(lambda: _noop(normalized()))
    chains = timed(lambda: _noop(good())) + timed(lambda: _noop(bad()))
    written = timed(lambda: ingest_batch(spark, batch.ndjson_dir, mode="ndjson",
                                         quarantine_path=os.path.join(ctx.work, "ingest", "decompose_q")))
    ctx.layer["intake.ndjson_s"] = intake
    ctx.layer["pipeline.normalize_self_s"] = max(0.0, piped - intake)
    ctx.layer["lake.insert_self_s"] = max(0.0, written - chains)
    if batch.blob_dir:
        ctx.layer["intake.blob_s"] = timed(lambda: _noop(read_blob_events(spark, batch.blob_dir)))
    else:
        ctx.layer["intake.blob_s"] = float("nan")
    ctx.decomposed_batch = batch
    print(f"  decomposed NDJSON of one batch ({len(batch.good)} good events in all): ingest_batch "
          f"{written:.2f} s = 2 x (intake {intake:.2f} s + pipeline {piped - intake:.2f} s) "
          f"+ lake write {written - chains:.2f} s + rest {chains - 2 * piped:.2f} s")


def check_ingest(ctx) -> None:
    """Every batch ingested in the run (warm-up, deliveries, large
    batches): each good event exactly once with its golden timestamp and
    addresses, unique eventids, each quarantine holding exactly its
    batch's malformed lines."""
    spark, batches = ctx.spark, ctx.ingested
    want = {}
    for _, batch, _ in batches:
        want.update(batch.good)
    rows = spark.table(EVENTS_TABLE).select(
        bench_key().alias("k"), "utctimestamp", "eventid",
        F.get_json_object("details", "$._ipaddresses").alias("ips"),
    ).where(bench_key().rlike(r"^[wdb]\d+-")).collect()
    extra = getattr(ctx, "decomposed_batch", None)
    counts: dict = {}
    for r in rows:
        counts[r["k"]] = counts.get(r["k"], 0) + 1
    # the traced run ingests its decomposed batch's NDJSON a second time
    repeated = [k for k, v in counts.items() if v != 1 and not (extra and k in extra.good and v == 2)]
    ctx.check("ingest.exactly_once", set(counts) == set(want) and not repeated,
              f"{len(counts)} keys landed for {len(want)}; {len(repeated)} repeated")
    bad_ts = bad_ip = 0
    for r in rows:
        e = want.get(r["k"])
        if e is None:
            continue
        bad_ts += r["utctimestamp"] != e.utctimestamp
        got = json.loads(r["ips"]) if r["ips"] else []
        bad_ip += got != e.ips
    ctx.check("ingest.golden_utctimestamp", bad_ts == 0, f"{bad_ts} wrong")
    ctx.check("ingest.golden_ipaddresses", bad_ip == 0, f"{bad_ip} wrong")
    ids = [r["eventid"] for r in rows]
    ctx.check("ingest.unique_eventid", len(ids) == len(set(ids)), f"{len(ids) - len(set(ids))} repeats")
    for tag, batch, qdir in batches:
        n_bad = _json_lines(qdir)
        ctx.check(f"ingest.quarantine.{tag}", n_bad == batch.malformed, f"{n_bad} vs {batch.malformed}")


# --------------------------------------------------------------------------
# live stream (open loop) with one closed-loop reader


def _committed_files(checkpoint: str) -> dict:
    """basename -> batchId for files whose micro-batch has committed,
    from the file source's log and the query's commit log."""
    try:
        done = {int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()}
    except OSError:
        return {}
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            entry = json.loads(line)
            if entry["batchId"] in done:
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _commit_times(query) -> dict:
    """batchId -> wall-clock end of that micro-batch, and the progress
    records of batches that read data."""
    ends, progs = {}, []
    for p in query.recentProgress:
        if not p.get("numInputRows"):
            continue
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
        ends[p["batchId"]] = start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0
        progs.append(p)
    return ends, progs


class Stream:
    """A running ``start_ingest`` query over its own landing prefix,
    brought up with one file committed: the first micro-batch pays query
    start-up, which no later file sees.  The file lands before the query
    starts, so its first trigger picks it up."""

    def __init__(self, ctx, tag: str):
        root = os.path.join(ctx.work, tag)
        self.landing, self.staging = os.path.join(root, "landing"), os.path.join(root, "staging")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        text, self.keys = gen.stream_file(ctx.events(tag), f"s{tag}",
                                          ctx.profile["stream_events_per_file"], ctx.epoch)
        self.land(f"{tag}.json", text)
        self.query = start_ingest(ctx.spark, self.landing, self.checkpoint,
                                  quarantine_path=os.path.join(root, "quarantine"),
                                  trigger_seconds=TRIGGER_SECONDS)
        try:
            _wait_committed(self.query, self.checkpoint, {f"{tag}.json"}, 120)
        except BaseException:
            self.query.stop()
            raise

    def land(self, name: str, text: str) -> None:
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.write(text)
        os.rename(tmp, os.path.join(self.landing, name))


def setup_stream(ctx, rep: int, last: bool) -> None:
    """Bring the live lake up: an empty events table at a fresh location
    and a running ingest stream with its first file committed."""
    spark = ctx.spark
    ctx.table_dir = os.path.join(ctx.work, f"live{rep}", "events")
    os.makedirs(ctx.table_dir)
    spark.sql(f"DROP TABLE IF EXISTS {EVENTS_TABLE}")
    with ctx.tracer.span("setup.stream_start"):
        create_events_table(spark, location=ctx.table_dir)
        stream = Stream(ctx, f"live{rep}")
    if last:
        ctx.stream = stream
    else:
        stream.query.stop()


def run_stream(ctx, seconds: float) -> None:
    """Open-loop landing at a fixed rate, one closed-loop reader on the
    newest partition, then every file's freshness from the commit log."""
    p, spark, tr = ctx.profile, ctx.spark, ctx.tracer
    stream = getattr(ctx, "stream", None) or Stream(ctx, "stream")
    ctx.stream = None
    q, checkpoint = stream.query, stream.checkpoint
    rate, per_file = p["stream_files_per_s"], p["stream_events_per_file"]
    keys = list(stream.keys)
    events_gen = ctx.events("stream")
    try:
        # pre-generate every file so the generator thread only writes
        files = []
        for i in range(max(1, int(seconds * rate))):
            text, k = gen.stream_file(events_gen, f"s{i}", per_file, ctx.epoch)
            files.append((f"s{i}.json", text))
            keys += k
        landed = sum(len(text) for _, text in files)
        bytes0 = _parquet_bytes(ctx.table_dir)[1]
        due, late = {}, []
        stop = threading.Event()
        live_lat, live_counts, errors = [], [], []

        def generator(t0):
            for i, (name, text) in enumerate(files):
                t_due = t0 + i / rate
                delay = t_due - time.time()
                if delay > 0:
                    time.sleep(delay)
                stream.land(name, text)
                due[name] = t_due
                late.append(max(0.0, time.time() - t_due))

        think = ctx.rng("reader")

        def reader():
            n = 0
            while not stop.is_set():
                now = datetime.now(timezone.utc)
                part = (f"{now.year}", f"{now.month:02d}", f"{now.day:02d}", f"{now.hour:02d}")
                n += 1
                t0 = time.perf_counter()
                try:
                    with ctx.jobs.op(f"live.{n}"), tr.span("live.query", op=f"l{n}"):
                        rows = spark.sql(f"""
                            SELECT source, count(*) AS n,
                                   count(json_extract_scalar(details,'$.sourceipaddress')) AS n_ip
                            FROM {TABLE_SQL} WHERE {_hours_predicate([part])}
                            GROUP BY source""").collect()
                except Exception as exc:
                    errors.append(repr(exc))
                    continue
                live_lat.append(time.perf_counter() - t0)
                live_counts.append((part, sum(r["n"] for r in rows)))
                # a seeded pause, so the reader does not lock onto the
                # trigger's period and always meet (or miss) a batch
                stop.wait(think.uniform(0.0, 0.25))

        t0 = time.time() + 0.05
        gthread = threading.Thread(target=generator, args=(t0,), name="perfbench-gen")
        rthread = threading.Thread(target=reader, name="perfbench-reader")
        gthread.start()
        rthread.start()
        gthread.join()
        stop.set()
        rthread.join()
        committed = _committed_files(checkpoint)
        backlog = sum(1 for n, _ in files if n not in committed)
        _wait_committed(q, checkpoint, {n for n, _ in files}, 120)
        ends, progs = _commit_times(q)
    finally:
        q.stop()
    committed = _committed_files(checkpoint)
    fresh = [ends[committed[n]] - due[n] for n, _ in files if n in committed and committed[n] in ends]
    ours = {committed[n] for n, _ in files if n in committed}
    progs = [pr for pr in progs if pr["batchId"] in ours]  # not the bring-up batch
    ctx.attempted += len(files) + len(live_lat) + len(errors)
    for e in errors:
        ctx.fail("stream.live_query", e)
    missing = len(files) - len(fresh)
    if missing:
        ctx.fail("stream.freshness", f"{missing} files without a commit time")
    ctx.metrics["freshness_p50_s"] = median(fresh)
    # the stream's sustained processing rate: rows over the time its
    # micro-batches ran, which the offered rate does not cap
    busy_s = sum(pr["durationMs"]["triggerExecution"] for pr in progs) / 1000.0
    ctx.metrics["ingest_events_per_s"] = sum(pr["numInputRows"] for pr in progs) / busy_s if busy_s else float("nan")
    ctx.metrics["stored_bytes_per_input_byte"] = (_parquet_bytes(ctx.table_dir)[1] - bytes0) / landed
    ctx.metrics["query_p50_s"] = median(live_lat)
    ctx.metrics["queries_per_s"] = len(live_lat) / sum(live_lat) if live_lat else float("nan")
    ctx.samples.update(freshness=len(fresh), ingest=len(progs), query=len(live_lat))
    if tr.enabled:
        dur = lambda k: [pr["durationMs"].get(k, 0) for pr in progs]
        ctx.layer["stream.trigger_ms_p50"] = median(dur("triggerExecution"))
        ctx.layer["stream.addBatch_ms_p50"] = median(dur("addBatch"))
        ctx.layer["stream.latestOffset_ms_p50"] = median(dur("latestOffset"))
        ctx.layer["stream.walCommit_ms_p50"] = median(dur("walCommit"))
        ctx.layer["stream.rows_per_batch"] = median([pr["numInputRows"] for pr in progs])
        ctx.layer["stream.batches"] = len(progs)
        ctx.layer["stream.backlog_files_end"] = backlog
        ctx.layer["stream.generator_late_s_p90"] = quantile(late, 0.9)
        ctx.layer["stream.freshness_p90_s"] = quantile(fresh, 0.9)
        ctx.layer["stream.live_query_s_p50"] = median(live_lat)
    # checks: every landed event exactly once; the live count never shrinks
    got = [r[0] for r in spark.table(EVENTS_TABLE).select(bench_key()).where(bench_key().startswith("s")).collect()]
    ctx.check("stream.exactly_once", len(got) == len(keys) and set(got) == set(keys),
              f"{len(got)} rows, {len(set(got))} keys for {len(keys)}")
    shrink = sum(1 for (pa, a), (pb, b) in zip(live_counts, live_counts[1:]) if pa == pb and b < a)
    ctx.check("stream.live_count_monotone", shrink == 0, f"{shrink} decreases")
    if tr.enabled:
        with ctx.trace_only():
            parts = spark.table(EVENTS_TABLE).where(bench_key().startswith("s")).select(
                "year", "month", "day", "hour").distinct().collect()
            compaction(ctx, [tuple(r) for r in parts])


def compaction(ctx, parts) -> None:
    """Compact the partitions the stream wrote, once it has stopped."""
    before = ctx.spark.table(EVENTS_TABLE).count()
    t0 = time.perf_counter()
    fb = fa = 0
    for y, m, d, h in sorted(parts):
        r = compact_partition(ctx.spark, ctx.table_dir, y, m, d, h)
        fb += r["files_before"]
        fa += r["files_after"]
    ctx.layer["maintenance.compact_s"] = time.perf_counter() - t0
    ctx.layer["maintenance.files_before"] = fb
    ctx.layer["maintenance.files_after"] = fa
    after = ctx.spark.table(EVENTS_TABLE).count()
    ctx.check("maintenance.rows_kept", after == before, f"{after} vs {before}")


def _wait_committed(query, checkpoint, names, timeout) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if names <= set(_committed_files(checkpoint)) and not query.status["isTriggerActive"]:
            return
        time.sleep(0.05)
    raise TimeoutError(f"{len(names - set(_committed_files(checkpoint)))} files not committed")
