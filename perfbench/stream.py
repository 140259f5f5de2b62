"""Stream workload ``stream``: two lanes, each a streaming query over its
own seeded input.

- ingest: the reference pipeline (``build_stream_pipeline`` with the
  ``keyed_upsert_parquet`` sink) over covid JSON with injected malformed
  and late events;
- sessions: ``session_ids_stream`` (``applyInPandasWithState``) over
  time-ordered user events with Zipf-skewed ``user_id``.

Input files are staged outside a query's source directory and released
into it by atomic rename. In a closed loop, each lane in turn gets a small
backlog (a chunk of files) at once, and the next release waits until it
is committed. A release's drain time, which is also the latency of each of
its files, runs from the release to the commit of the micro-batch that
consumed it. Commit times come from ``StreamingQueryProgress``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen
from perfbench.batch import oracle_digest
from perfbench.harness import Outcome, median, peak_rss_mb, percentile, set_up

LATENCY_LIMIT_S = 20.0  # a file committed later than this after its due time counts as failed
DRAIN_TIMEOUT_S = 60.0
MIN_ROUNDS = 3


class ProgressLog(StreamingQueryListener):
    """Every progress record of every query, in order, as parsed JSON."""

    def __init__(self):
        self.records: dict[str, list[dict]] = {}
        self._warm: dict[str, int] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.records.setdefault(p["id"], []).append(p)
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._cv.notify_all()

    def committed(self, qid: str) -> int:
        """Highest source log offset a finished batch of ``qid`` covered."""
        ends = [_end_offset(p) for p in self.records.get(qid, [])]
        return max(ends, default=-1)

    def wait_files(self, query, checkpoint: str, names: list[str], timeout: float) -> bool:
        """Wait until ``query`` has committed a batch covering ``names``."""
        deadline = time.time() + timeout
        with self._cv:
            while True:
                need = file_offsets(checkpoint).get(names[-1])
                if need is not None and self.committed(query.id) >= need:
                    return True
                left = deadline - time.time()
                if left <= 0 or query.exception() is not None:
                    return False
                self._cv.wait(min(left, 0.05))

    def data_batches(self, qid: str) -> list[dict]:
        return [p for p in self.records.get(qid, []) if p["numInputRows"] > 0]

    def end_warm_in(self) -> None:
        """Batches recorded so far belong to the warm-in."""
        with self._cv:
            self._warm = {q: len(r) for q, r in self.records.items()}

    def timed_batches(self, qid: str) -> list[dict]:
        return [p for p in self.records.get(qid, [])[self._warm.get(qid, 0):] if p["numInputRows"] > 0]


def _end_offset(p: dict) -> int:
    end = p["sources"][0].get("endOffset")
    return int(json.loads(end)["logOffset"] if isinstance(end, str) else end["logOffset"]) if end else -1


def file_offsets(checkpoint: str) -> dict[str, int]:
    """File name -> the file source's log offset (from the source's
    metadata log in the checkpoint: one JSON entry per file)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_time(p: dict) -> float:
    """Wall-clock end of the micro-batch a progress record describes."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


def consumed_at(log: "ProgressLog", qid: str, checkpoint: str, names: list[str]) -> list[float | None]:
    """Commit time of the first batch of ``qid`` whose source range covers
    each file."""
    offsets = file_offsets(checkpoint)
    batches = sorted(log.data_batches(qid), key=_end_offset)
    out: list[float | None] = []
    for name in names:
        n = offsets.get(name)
        hit = next((p for p in batches if n is not None and _end_offset(p) >= n), None)
        out.append(commit_time(hit) if hit else None)
    return out


class Stager:
    """Files written to a staging directory, then released into the
    source directory in order by atomic rename."""

    def __init__(self, root: str, contents: list[str]):
        self.stage = os.path.join(root, "staging")
        self.src = os.path.join(root, "source")
        for d in (self.stage, self.src):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.names = []
        t0 = int(time.time()) - len(contents)
        for i, text in enumerate(contents):
            name = f"part-{i:05d}.json"
            path = os.path.join(self.stage, name)
            with open(path, "w") as f:
                f.write(text)
            # The file source orders by modification time: make it the
            # release order.
            os.utime(path, (t0 + i, t0 + i))
            self.names.append(name)
        self.released = 0

    def release(self, n: int = 1) -> float:
        for name in self.names[self.released:self.released + n]:
            os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))
        self.released += n
        return time.time()


def _stream_layers(log: ProgressLog, qids: list[str]) -> dict:
    """Per-trigger means of the progress breakdown over timed data batches,
    and the state stores' size at the end."""
    batches = [p for q in qids for p in log.timed_batches(q)]
    n = max(1, len(batches))
    out = {f"stream.{k}_ms": sum(p["durationMs"].get(k, 0) for p in batches) / n
           for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")}
    out["stream.triggers"] = len(batches)
    ops = [s for p in batches for s in p.get("stateOperators", [])]
    out["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in ops) / n
    out["state.update_ms"] = sum(s.get("allUpdatesTimeMs", 0) for s in ops) / n
    out["state.rows_dropped_by_watermark"] = sum(s.get("numRowsDroppedByWatermark", 0) for s in ops)
    last = [s for q in qids if log.timed_batches(q) for s in log.timed_batches(q)[-1].get("stateOperators", [])]
    out["state.rows_total"] = sum(s.get("numRowsTotal", 0) for s in last)
    out["state.memory_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in last)
    return out


@dataclass
class Lane:
    """One streaming query, its staged input and its chunk size."""

    stager: Stager
    query: object
    checkpoint: str
    chunk: int


def _drain(out: Outcome, lanes: list[Lane], log: ProgressLog, warm: int, seconds: float, min_rounds: int,
           toggle) -> tuple[list[list[tuple[float, bool]]], list[float]]:
    """Closed loop. A round gives each lane in turn its next chunk of
    files at once and waits until the lane has committed them; a release
    never waits on a schedule, so a slower program gives fewer rounds, not
    a growing queue. The first ``warm`` rounds are an untimed warm-in
    (query start-up, JIT); timed rounds follow until ``seconds`` have
    passed (at least ``min_rounds``) or the staged files run out. Returns
    per lane the (drain seconds, traced) of each timed release, and per
    release how long after the previous commit it came."""
    drains: list[list[tuple[float, bool]]] = [[] for _ in lanes]
    gaps: list[float] = []
    deadline = prev_commit = None
    r = 0
    while all(lane.stager.released + lane.chunk <= len(lane.stager.names) for lane in lanes):
        timed = r - warm
        if timed == 0:
            log.end_warm_in()
            out.mark("warm_in")
            deadline = time.perf_counter() + seconds
        elif timed >= min_rounds and time.perf_counter() >= deadline:
            break
        traced = timed >= 0 and toggle(timed)
        for i, lane in enumerate(lanes):
            first = lane.stager.released
            t_rel = lane.stager.release(lane.chunk)
            names = lane.stager.names[first:lane.stager.released]
            committed = None
            if log.wait_files(lane.query, lane.checkpoint, names, DRAIN_TIMEOUT_S):
                times = consumed_at(log, lane.query.id, lane.checkpoint, names)
                committed = None if None in times else max(times)
            ok = committed is not None and committed - t_rel <= LATENCY_LIMIT_S
            if timed >= 0:
                for _ in names:
                    out.op(ok)
                if ok:
                    drains[i].append((committed - t_rel, traced))
                    gaps.append(t_rel - prev_commit)
            elif not ok:
                out.op(False)
            if not ok:
                return drains, gaps
            prev_commit = committed
        r += 1
    return drains, gaps


def _stop(query) -> None:
    """Stop between micro-batches: a batch cut off mid-flight fails its
    foreachBatch callback."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(30)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _user_lines(rows: list[dict]) -> str:
    return "".join(json.dumps(r) + "\n" for r in rows)


USER_EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def stream(ctx, out: Outcome) -> None:
    from data_pipeline_with_spark_kafka_spark.plans.pipeline import SinkSpec
    from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
        DIM_SCHEMA,
        build_stream_pipeline,
        file_stream_source,
        parse_events,
        windowed_enrichment,
    )
    from data_pipeline_with_spark_kafka_spark.streaming.session_stream import session_ids_stream
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet

    fpt, chunk, n_warm = ctx.size("ingest_fpt"), ctx.size("ingest_chunk"), ctx.size("warm_rounds")
    # Files for as many rounds as the window could hold: no round drains
    # in less than a second.
    n = n_warm + max(MIN_ROUNDS, int(ctx.seconds)) + 1
    # Every release is its own micro-batch, so from the second round on a
    # watermark exists and the injected late events are dropped.
    kw = dict(rows_per_file=ctx.size("ingest_rows"), n_locations=ctx.size("ingest_locations"),
              first_late_file=chunk)
    ukw = dict(rows_per_file=ctx.size("session_rows"), n_users=ctx.size("session_users"))

    def prepare(spark, r):
        root = os.path.join(ctx.work, f"stream-{r}")
        covid = gen.covid_stream(ctx.seed, n_files=n * chunk, **kw)
        users = gen.user_event_stream(ctx.seed, n_files=n, **ukw)
        ingest = Stager(os.path.join(root, "ingest"), ["\n".join(f) + "\n" for f in covid.files])
        sessions = Stager(os.path.join(root, "sessions"), [_user_lines(f) for f in users.files])
        return root, covid, users, ingest, sessions

    spark, (root, covid, users, ingest, sessions) = set_up(ctx, out, prepare)
    tracer = ctx.tracer
    dim = spark.createDataFrame(covid.dim, DIM_SCHEMA).cache()
    target = os.path.join(root, "target")
    upsert = keyed_upsert_parquet(target, ["window_start", "location"])
    trace_on = [False]
    sink_calls: list[tuple[float, int]] = []
    drain_span = [None]

    def ingest_sink(batch_df, epoch_id):
        """The upsert callback, timed from outside when tracing."""
        if not trace_on[0]:
            upsert(batch_df, epoch_id)
            return
        t0 = time.perf_counter()
        with tracer.span("sinks", "upsert", parent=drain_span[0]):
            upsert(batch_df, epoch_id)
        sink_calls.append((time.perf_counter() - t0, _dir_bytes(target)))

    folded: dict = {}

    def fold_sessions(df, epoch_id):
        """Update mode: the latest row per (user, session) is its truth."""
        for r in df.toPandas().itertuples(index=False):
            folded[(r.user_id, r.session_seq)] = (r.n_events, str(r.session_start), str(r.session_end))

    ck_ingest, ck_sessions = os.path.join(root, "checkpoint-ingest"), os.path.join(root, "checkpoint-sessions")
    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        q_ingest = build_stream_pipeline(
            file_stream_source(ingest.src, max_files_per_trigger=fpt),
            dim,
            SinkSpec(kind="foreach-batch", foreach_batch=ingest_sink, output_mode="update",
                     trigger={"processingTime": "0 seconds"}, checkpoint=ck_ingest),
        ).run(spark)
        q_sessions = (
            session_ids_stream(
                spark.readStream.schema(USER_EVENT_SCHEMA).option("maxFilesPerTrigger", "1").json(sessions.src),
                watermark="1 second",
            )
            .writeStream.outputMode("update")
            .foreachBatch(fold_sessions)
            .option("checkpointLocation", ck_sessions)
            .start()
        )
        lanes = [Lane(ingest, q_ingest, ck_ingest, chunk), Lane(sessions, q_sessions, ck_sessions, 1)]
        with tracer.span("streaming", "drain") as sp:
            drain_span[0] = sp.id if sp else None

            def toggle(k):
                trace_on[0] = tracer.enabled and k % 2 == 1
                return trace_on[0]

            drains, gaps = _drain(out, lanes, log, n_warm, ctx.seconds, MIN_ROUNDS, toggle)
        for q in (q_ingest, q_sessions):
            _stop(q)
    finally:
        spark.streams.removeListener(log)

    # A round is the sum of each lane's median drain. A file's latency is
    # its release's drain: one micro-batch commits the whole chunk.
    plain = [[d for d, traced in lane if not traced] for lane in drains]
    out.e2e["pass_s"] = sum(median(p) for p in plain)
    out.e2e["latency_p50_s"] = median(plain[0])
    out.pass_s = [a + b for a, b in zip(*plain)]
    sess_batches = log.timed_batches(q_sessions.id)
    out.detail.update({
        "ingest_drain_s": [round(d, 3) for d in plain[0]],
        "session_drain_s": [round(d, 3) for d in plain[1]],
        "ingest_catchup_rows_per_s": sum(len(f) for f in covid.files[:chunk]) / median(plain[0]),
        "stateful_rows_per_s": len(users.files[0]) / median(plain[1]),
        "ingest_latency_p50_s": median(plain[0]),
        "ingest_latency_p90_s": percentile(plain[0], 0.9),
        "latency_samples": len(plain[0]),
        "latency_limit_s": LATENCY_LIMIT_S,
        "session_trigger_s": [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in sess_batches],
        "ingest_trigger_s": [p["durationMs"].get("triggerExecution", 0) / 1000.0
                             for p in log.timed_batches(q_ingest.id)],
    })
    out.mark("measure")

    # Correctness, outside the timed region.
    delivered = ingest.released
    raw = spark.read.schema("value string").json(ingest.src)
    rejected = raw.count() - parse_events(raw).count()
    out.check("parse_rejected_equals_injected", rejected == sum(covid.malformed[:delivered]))
    twin_path = os.path.join(root, "twin.json")
    with open(twin_path, "w") as f:
        f.write("".join(ln + "\n" for lines in covid.on_time[:delivered] for ln in lines))
    twin = windowed_enrichment(dim)(parse_events(spark.read.schema("value string").json(twin_path)))
    got = spark.read.parquet(target).drop("processing_time")
    out.check("target_equals_batch_twin", oracle_digest(got.toPandas()) == oracle_digest(twin.toPandas()))
    target_rows = got.count()
    out.detail["late_injected"] = sum(covid.late[:delivered])
    out.detail["target_rows"] = target_rows
    out.check("sessions_equal_batch_twin", folded == _session_twin(spark, users.files[:sessions.released], root))

    if tracer.enabled:
        out.layers.update(_stream_layers(log, [q_ingest.id, q_sessions.id]))
        keys = [users.keys_per_file[_end_offset(p)] for p in sess_batches]
        out.layers["stateful.keys_per_batch"] = median(keys) if keys else 0.0
        out.layers["stateful.ms_per_key"] = median(
            [p["durationMs"].get("addBatch", 0) / max(1, k) for p, k in zip(sess_batches, keys)]) if keys else 0.0
        out.layers["sources.parse_rejected_rows"] = rejected
        out.layers["sinks.upsert_s"] = median([s for s, _ in sink_calls]) if sink_calls else 0.0
        out.layers["sinks.bytes_written"] = median([b for _, b in sink_calls]) if sink_calls else 0.0
        out.layers["sinks.target_rows"] = target_rows
        out.layers["gen.lateness_p90_s"] = sorted(gaps)[int(0.9 * (len(gaps) - 1))] if gaps else 0.0
        traced = [[d for d, t in lane if t] for lane in drains]
        out.layers["trace.overhead_s"] = sum(median(t) - median(p) for t, p in zip(traced, plain))
        out.layers.update({f"self.{k}_s": v for k, v in tracer.self_times().items()})
    out.detail["peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()


def _session_twin(spark, files: list[list[dict]], root: str) -> dict:
    """``events_session_ids`` over exactly the delivered user events."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    pdf = pd.DataFrame([r for f in files for r in f])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf["props"] = "{}"
    twin_dir = os.path.join(root, "session-twin")
    os.makedirs(twin_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(twin_dir, "events.parquet"))
    return {
        (r.user_id, r.session_seq): (r.n_events, str(r.session_start), str(r.session_end))
        for r in all_queries()["events_session_ids"].builder(spark, twin_dir).collect()
    }
