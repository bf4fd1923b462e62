"""stream_etl: the Kinesis path as an open loop.

Three ``streaming.pipeline.run_table_etl`` queries (pin, geo, user) run while
one dropper thread lands pre-rendered blob files (the ``{"data": "<json>"}``
Kinesis contract) into their source directories on a fixed schedule that
does not slow down when the engine does. It runs the same cleaning code as
daily_batch in many small micro-batches, so per-batch fixed costs (listing,
planning, WAL and commit, small-file writes) dominate here.

Each file is timed from when it was *due* to the commit of the micro-batch
that contained it, read back from the query's checkpoint (source log and
commit log). The schedule has fixed offered-rate stages: the first, at the
nominal rate, gives the lag; the stage after it doubles the rate, and the
highest stage whose backlog does not grow gives ``stream.sustained_rps``.
Micro-batches grow with the backlog, so near capacity that verdict flips
between runs and it is reported per layer only. The end-to-end throughput is
the delivered rate: records of all timed files over the time from the first
file's due time to the last file's commit.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time

from harness import Ctx, median, report_latency, setup_done, start_spark, stop_spark
from stats import backlog_grows, backlog_series

TABLES = ("pin", "geo", "user")
RECORDS_PER_FILE = 125
NOMINAL_FILES_PER_S = 8.0  # per table
RATE_STEPS = (1, 2)  # multiples of the nominal rate, one stage each
NOMINAL_SHARE = 0.75  # of the timed window; the faster stages share the rest
WARMUP_FILES = 32  # per table, landed at the nominal rate before timing starts
POOL_RECORDS = 2000  # distinct generated records per table, re-keyed per file
IND_MARK = 987654321  # placeholder key replaced by each record's real ind
LATE_LIMIT_S = 0.05  # a dropper later than this distorts the lag: run invalid
BACKLOG_STEP_S = 0.05
POLL_SLOT_S = 1.0  # traced runs poll progress in every other slot of this length


def pool_templates(seed: int) -> dict[str, list[tuple[str, str]]]:
    """Blob lines for a seeded pool of records, split around the key so a
    file's lines are rendered by string concatenation alone."""
    from pinterest_data_pipeline218_spark.sources.generator import generate_records

    pools = generate_records(POOL_RECORDS, random.Random(f"stream_etl/{seed}").getrandbits(31))
    out = {}
    for table, records in zip(TABLES, pools):
        key = "index" if table == "pin" else "ind"
        parts = []
        for r in records:
            line = json.dumps({"data": json.dumps({**r, key: IND_MARK})})
            head, tail = line.split(str(IND_MARK))
            parts.append((head, tail))
        out[table] = parts
    return out


def render_file(templates: list[tuple[str, str]], file_no: int) -> bytes:
    """File ``file_no`` of one table: keys file_no*RECORDS_PER_FILE onwards,
    the same keys in all three tables (they join 1:1 on ind)."""
    base = file_no * RECORDS_PER_FILE
    n = len(templates)
    return "".join(
        f"{templates[(base + i) % n][0]}{base + i}{templates[(base + i) % n][1]}\n"
        for i in range(RECORDS_PER_FILE)
    ).encode()


def schedule(seconds: float) -> list[tuple[int, float, float]]:
    """(stage, offset_s, files_per_s) for each drop tick of the timed window."""
    ticks = []
    t = 0.0
    rest = seconds * (1 - NOMINAL_SHARE) / (len(RATE_STEPS) - 1)
    lengths = [seconds * NOMINAL_SHARE] + [rest] * (len(RATE_STEPS) - 1)
    for stage, (mult, length) in enumerate(zip(RATE_STEPS, lengths)):
        rate = NOMINAL_FILES_PER_S * mult
        end = t + length
        while t < end - 1e-9:
            ticks.append((stage, t, rate))
            t += 1.0 / rate
        t = end
    return ticks


def stage_files(bodies: dict[str, list[bytes]], staging: str) -> None:
    """Write every file into the staging directory during set-up, under the
    name it lands with, so the dropper only renames on schedule."""
    for table, contents in bodies.items():
        for no, body in enumerate(contents):
            with open(os.path.join(staging, f"{table}-part-{no:06d}.json"), "wb") as fh:
                fh.write(body)


class Dropper(threading.Thread):
    """Lands files on schedule: at each tick one file per table, renamed from
    the staging directory into the source directory (atomic, so the file
    source never lists a partial file, and no write waits on the disk). The
    tables' files are staggered evenly across the tick, as independent
    producers would be, so the three queries do not all start a micro-batch
    at the same instant."""

    def __init__(self, src, staging, start_wall, ticks, first_no=0):
        super().__init__(daemon=True)
        self.src, self.staging = src, staging
        self.start_wall, self.ticks, self.first_no = start_wall, ticks, first_no
        self.dropped: list[dict] = []  # one entry per landed file
        self.error: BaseException | None = None

    def run(self):
        try:
            for k, (stage, offset, rate) in enumerate(self.ticks):
                for i, table in enumerate(TABLES):
                    due = self.start_wall + offset + i / (rate * len(TABLES))
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    name = f"part-{self.first_no + k:06d}.json"
                    os.rename(os.path.join(self.staging, f"{table}-{name}"),
                              os.path.join(self.src[table], name))
                    self.dropped.append({"table": table, "name": name, "stage": stage,
                                         "due": due, "landed": time.time()})
        except Exception as e:  # noqa: BLE001 - surfaced by the main thread
            self.error = e


def committed_files(checkpoint: str) -> dict[str, float]:
    """File name -> commit time of the micro-batch that read it, from the
    query's checkpoint (file-source log + commit log)."""
    batch_of: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for entry in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    batch_of[os.path.basename(rec["path"])] = rec["batchId"]
    out = {}
    for name, batch_id in batch_of.items():
        try:
            out[name] = os.stat(os.path.join(checkpoint, "commits", str(batch_id))).st_mtime
        except FileNotFoundError:
            continue  # batch planned, not yet committed
    return out


def wait_committed(ckpts: dict[str, str], want: dict[str, set], timeout_s: float) -> dict:
    """Poll the checkpoints until every wanted file is committed; returns
    table -> {file: commit time}."""
    deadline = time.time() + timeout_s
    while True:
        got = {t: committed_files(ckpts[t]) for t in TABLES}
        if all(want[t] <= got[t].keys() for t in TABLES):
            return got
        if time.time() > deadline:
            missing = {t: len(want[t] - got[t].keys()) for t in TABLES}
            raise TimeoutError(f"files not committed after {timeout_s}s: {missing}")
        time.sleep(0.05)


def check_sinks(ctx: Ctx, spark, src: dict, out_root: str) -> None:
    """After drain each sink equals the batch clean_* of the same records
    with no duplicate ind. The two sides are compared as multisets of rows
    by their row count and the sum of a 64-bit hash of each row, one
    aggregation per side."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline218_spark.sources.batch import read_json_dir
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        BLOB_SCHEMA,
        CLEANERS,
        RAW_BY_TABLE,
        decode_blob,
    )

    def digest(df, cols, *extra):
        row_hash = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")
        return df.agg(F.count(F.lit(1)), F.sum(row_hash), *extra).first()

    for t in TABLES:
        sink = spark.read.parquet(os.path.join(out_root, f"{t}_table"))
        raw = read_json_dir(spark, src[t], schema=BLOB_SCHEMA)
        want = CLEANERS[t](decode_blob(raw, RAW_BY_TABLE[t]))
        cols = sorted(sink.columns)
        if cols != sorted(want.columns):
            ctx.check(False, f"{t} sink columns {sink.columns} != batch {want.columns}")
            continue
        got_n, got_h, got_ind = digest(sink, cols, F.count_distinct("ind"))
        want_n, want_h = digest(want, cols)
        ctx.check((got_n, got_h) == (want_n, want_h) and got_ind == got_n,
                  f"{t} sink: {got_n} rows vs batch {want_n}, hash sums equal: "
                  f"{got_h == want_h}, {got_n - got_ind} duplicate ind")


def run(ctx: Ctx) -> None:
    spark = start_spark(ctx)
    try:
        _run(ctx, spark)
    finally:
        stop_spark(spark)


def _run(ctx: Ctx, spark) -> None:
    from pinterest_data_pipeline218_spark.streaming.pipeline import run_table_etl

    tracer = ctx.tracer
    ticks = schedule(ctx.seconds)
    src = {t: ctx.path("src", t, "") for t in TABLES}
    staging = ctx.path("staging", "")
    with tracer.span("sources.generate"):
        templates = pool_templates(ctx.seed)
        n_files = WARMUP_FILES + len(ticks)
        stage_files({t: [render_file(templates[t], k) for k in range(n_files)] for t in TABLES},
                    staging)
    out_root = ctx.path("sink", "")
    ckpts = {t: os.path.join(out_root, "_checkpoints", f"{t}_etl") for t in TABLES}

    queries = [run_table_etl(spark, src[t], t, out_root) for t in TABLES]
    try:
        # Warm-up, not timed: the first micro-batches pay codegen and JIT.
        warm_drop = Dropper(src, staging, time.time(),
                            [(0, k / NOMINAL_FILES_PER_S, NOMINAL_FILES_PER_S)
                             for k in range(WARMUP_FILES)])
        warm_drop.run()
        wait_committed(ckpts, {t: {f"part-{k:06d}.json" for k in range(WARMUP_FILES)}
                               for t in TABLES}, timeout_s=120)
        setup_done(ctx)
        start = time.time() + 0.2
        # Timed files continue the warm-up numbering so names stay unique.
        dropper = Dropper(src, staging, start, ticks, first_no=WARMUP_FILES)
        poller = _ProgressPoller(queries, start) if ctx.traced else None
        if poller:
            poller.start()
        dropper.start()
        dropper.join()
        if dropper.error:
            raise dropper.error
        want = {t: {d["name"] for d in dropper.dropped if d["table"] == t} for t in TABLES}
        commits = wait_committed(ckpts, want, timeout_s=120)
        if poller:
            poller.stop()
        progress = [q.recentProgress for q in queries]
        ctx.info("drained")
    finally:
        for q in queries:
            q.stop()
    ctx.info("queries stopped")
    check_sinks(ctx, spark, src, out_root)
    ctx.info("sinks checked")
    _report(ctx, dropper, commits, progress, start)


def polled(start: float, t: float) -> bool:
    """Whether the traced run polls progress at wall time ``t``: in every
    other ``POLL_SLOT_S`` slot from ``start`` on, so files due with and
    without polling interleave over the whole nominal stage."""
    return int((t - start) // POLL_SLOT_S) % 2 == 1


class _ProgressPoller(threading.Thread):
    """The traced run's in-window tracing: reads each query's last progress
    every 100 ms during the polled slots, which is the cost the overhead
    metric measures (lag of files due in polled slots minus the others)."""

    def __init__(self, queries, start: float):
        super().__init__(daemon=True)
        self.queries, self.start_wall = queries, start
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            if polled(self.start_wall, time.time()):
                for q in self.queries:
                    q.lastProgress  # noqa: B018 - the py4j round trip is the point

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


def _report(ctx, dropper, commits, progress, start: float) -> None:
    for d in dropper.dropped:
        d["lag"] = commits[d["table"]][d["name"]] - d["due"]
    late_s = max(d["landed"] - d["due"] for d in dropper.dropped)
    ctx.attempted += len(dropper.dropped)
    ctx.check(late_s <= LATE_LIMIT_S, f"dropper ran {late_s * 1000:.1f} ms late; lag distorted")
    stages = sorted({d["stage"] for d in dropper.dropped})
    sustained = 0.0  # records/s offered at the highest steady stage
    for s in stages:
        files = [d for d in dropper.dropped if d["stage"] == s]
        t_lo = min(d["due"] for d in files)
        t_hi = max(d["due"] for d in files) + 1.0 / (NOMINAL_FILES_PER_S * RATE_STEPS[s])
        n = max(4, int((t_hi - t_lo) / BACKLOG_STEP_S))
        times = [t_lo + (t_hi - t_lo) * i / n for i in range(n)]
        backlog = backlog_series([d["due"] for d in files],
                                 [d["due"] + d["lag"] for d in files], times)
        grows = backlog_grows(backlog, slack=len(TABLES))
        ctx.info(f"stage {s} x{RATE_STEPS[s]}: {len(files)} files, peak backlog "
                 f"{max(backlog)}, {'GROWS' if grows else 'steady'}")
        if grows:
            break
        sustained = NOMINAL_FILES_PER_S * RATE_STEPS[s] * len(TABLES) * RECORDS_PER_FILE
    nominal = [d for d in dropper.dropped if d["stage"] == 0]
    delivered = len(dropper.dropped) * RECORDS_PER_FILE / (
        max(d["due"] + d["lag"] for d in dropper.dropped) - start)
    ctx.info(f"delivered {delivered:.0f} records/s; sustained ladder rate {sustained}; "
             f"dropper at worst {late_s * 1000:.1f} ms late")
    if not ctx.traced:
        report_latency(ctx, [d["lag"] for d in nominal], "file (due to commit)")
        ctx.e2e["throughput_rps"] = delivered
        return
    batches = [p for ps in progress for p in ps
               if p["numInputRows"] > 0 and p["timestamp"] >= _iso(start)]
    dur = [p["durationMs"] for p in batches]
    selft = ctx.tracer.self_times()
    ctx.layer.update({
        "session.start_s": selft.get("session.start", 0.0),
        "sources.generate_s": selft.get("sources.generate", 0.0),
        "streaming.trigger_ms": median(x.get("triggerExecution", 0) for x in dur),
        "streaming.add_batch_ms": median(x.get("addBatch", 0) for x in dur),
        "streaming.offsets_ms": median(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in dur),
        "streaming.planning_ms": median(x.get("queryPlanning", 0) for x in dur),
        "streaming.commit_ms": median(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in dur),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": median(p["numInputRows"] for p in batches),
        "streaming.backlog_files": max(
            backlog_series([d["due"] for d in dropper.dropped],
                           [d["due"] + d["lag"] for d in dropper.dropped],
                           [start + i * BACKLOG_STEP_S
                            for i in range(int(ctx.seconds / BACKLOG_STEP_S))])),
        "stream.generator_late_ms": late_s * 1000.0,
        "stream.sustained_rps": sustained,
        "trace.overhead_ms": (median(d["lag"] for d in nominal if polled(start, d["due"]))
                              - median(d["lag"] for d in nominal
                                       if not polled(start, d["due"]))) * 1000.0,
        "trace.setup_s": ctx.e2e["setup_s"],
    })


def _iso(wall: float) -> str:
    """Wall time as the ISO-8601 UTC string StreamingQueryProgress uses."""
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(wall)) + f".{int(wall % 1 * 1000):03d}Z"
