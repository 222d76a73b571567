"""Streaming benchmark for the reference dataflow: Kinesis -> JSON parse
-> empty-text filter -> embed -> OpenSearch bulk sink, run end to end
through ``streaming.pipeline.run_pipeline`` against the in-process fake
Kinesis and OpenSearch endpoints.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds the run's provenance. ``--workload all`` runs every workload in
turn and prints one result line per workload. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    live: bool
    embedder: str  # "md5bow" | "titan"
    dim: int
    warm_records: int  # pre-filled before the first trigger
    rate: float = 0.0  # live: records/s offered by the open loop
    trigger: str | None = None  # live: processing-time trigger interval
    warm_seconds: float = 0.0  # live: open loop before the measured window
    backlog_per_second: int = 0  # backlog: measured records per --seconds
    warm_drain: int = 0  # backlog: records of an unmeasured drain first
    titan_latency_s: float = 0.0
    shards: int = 4


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="backlog_drain",
            why=(
                "A pre-filled 4-shard stream drained once with availableNow after "
                "a warm-up drain: per-record work dominates (GetRecords base64, the "
                "Arrow crossing, embed CPU, bulk JSON) and per-trigger cost is paid once."
            ),
            live=False,
            embedder="md5bow",
            dim=32,
            warm_records=2000,
            backlog_per_second=10_000,
            warm_drain=30_000,
        ),
        Workload(
            name="titan_live",
            why=(
                "The deployed shape: an open loop at 200 records/s, about half the "
                "Titan drain capacity, into the Titan adapter over a fake endpoint "
                "with a stand-in 20 ms latency on a 3 s trigger; embed waits on its "
                "max_concurrency pool and each sink document is about 20 KB."
            ),
            live=True,
            embedder="titan",
            dim=1024,
            warm_records=400,
            # live_tail's 1,000 records/s would overload it: a 4,000-record
            # Titan drain runs at about 350-400 records/s on 4 vCPUs, with the
            # fake answering in 20 ms or in 100 ms
            rate=200.0,
            # a 1 s trigger runs back to back here (about 2 s per trigger) and
            # its latency then swings with every stall of the host; 3 s leaves slack
            trigger="3 seconds",
            warm_seconds=9.0,
            # a stand-in, not a measured Bedrock latency; --titan-latency-ms
            # overrides it
            titan_latency_s=0.02,
        ),
        # Not in BENCHMARK.json: its 1 s triggers take about 18 s of open
        # loop to stop getting faster, so a steady run of it lasts about
        # 70 s against about 55 s for the others. Run it by hand or via
        # report.py.
        Workload(
            name="live_tail",
            why=(
                "An open loop at 1,000 records/s, below drain capacity, on a 1 s "
                "processing-time trigger: each trigger's fixed cost sets latency "
                "and per-record work is small."
            ),
            live=True,
            embedder="md5bow",
            dim=32,
            warm_records=2000,
            rate=1000.0,
            trigger="1 second",
            warm_seconds=18.0,
        ),
    )
}


class RunFailed(RuntimeError):
    pass


class DriverLink:
    """Receives the Spark driver process's messages on a thread; keeps
    progress reports and lets the caller wait for the others."""

    def __init__(self, conn):
        self.conn = conn
        self.progress: list[dict] = []
        self.messages: list[tuple] = []
        self._cv = threading.Condition()
        self._thread = threading.Thread(target=self._recv, daemon=True)
        self._thread.start()

    def _recv(self) -> None:
        while True:
            try:
                msg = self.conn.recv()
            except (EOFError, OSError):
                msg = ("eof",)
            with self._cv:
                if msg[0] == "progress":
                    self.progress.append(json.loads(msg[1]))
                else:
                    self.messages.append(msg)
                self._cv.notify_all()
            if msg[0] in ("eof", "bye"):
                return

    def send(self, **cmd) -> None:
        self.conn.send(cmd)

    def _check(self) -> None:
        for msg in self.messages:
            if msg[0] == "error":
                raise RunFailed("Spark driver failed:\n" + msg[1])
            if msg[0] == "eof":
                raise RunFailed("Spark driver exited unexpectedly")
            if msg[0] in ("terminated", "ended") and msg[3]:
                raise RunFailed(f"query {msg[1]} ended with an exception: {msg[3]}")

    def wait(self, pred, timeout: float):
        """First progress report or message satisfying pred; a message
        is consumed by the wait that returns it."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                self._check()
                for item in self.progress:
                    if pred(item):
                        return item
                for i, item in enumerate(self.messages):
                    if pred(item):
                        return self.messages.pop(i)
                left = deadline - time.monotonic()
                if left <= 0:
                    raise RunFailed("timed out waiting for the Spark driver")
                self._cv.wait(left)


def _message(kind: str, run_id: str | None = None):
    return lambda m: (
        isinstance(m, tuple) and m[0] == kind and (run_id is None or m[1] == run_id)
    )


def _signature(embedder: str):
    """What the recording OpenSearch keeps of each indexed vector."""
    from perfbench.tracing import titan_checksum

    # Md5Bow coordinates are small integers, so their float sum is exact
    return titan_checksum if embedder == "titan" else sum


class Expected:
    """The signature a correct pipeline indexes for a generated text."""

    def __init__(self, workload: Workload, seed: int):
        from perfbench.tracing import titan_bodies, titan_checksum

        self.titan = workload.embedder == "titan"
        self._weights: dict[str, int] = {}
        if self.titan:
            self._titan_sums = [
                titan_checksum(json.loads(body)["embedding"]) for body in titan_bodies(seed)
            ]

    def signature(self, text: str) -> int:
        from perfbench.tracing import titan_body_index

        if self.titan:
            return self._titan_sums[titan_body_index(text)]
        # _st33_certify's arithmetic: Md5Bow's coordinates sum to the
        # token weights 1 + (h >> 8) % 7, h = md5('m06:' || token)[:8]
        total = 0
        for tok in re.split(r"[ \t\n\f\r]+", text.strip(" \t\n\f\r")):
            if not tok:
                continue
            w = self._weights.get(tok)
            if w is None:
                h = int(hashlib.md5(f"m06:{tok}".encode()).hexdigest()[:8], 16)
                w = self._weights[tok] = 1 + (h >> 8) % 7
            total += w
        return total


def _epoch_ms(date: str | None) -> int | None:
    # the sink writes the naive UTC datetime's isoformat()
    if date is None:
        return None
    dt = datetime.datetime.fromisoformat(date).replace(tzinfo=datetime.timezone.utc)
    return round(dt.timestamp() * 1000)


def verify(workload: Workload, seed: int, gen, stores) -> dict:
    """Every generated record must be indexed exactly once, with the
    vector and date the pipeline must produce for it."""
    index = {t: i for i, t in enumerate(gen.texts)}
    expected = Expected(workload, seed)
    counts = [0] * len(gen.texts)
    stored_at: list[float | None] = [None] * len(gen.texts)
    mismatches: list[str] = []
    sum_got = sum_want = 0
    for store in stores:
        for text, date, dim, sig, t in store.stored:
            i = index.get(text)
            if i is None:
                mismatches.append(f"unknown document {text!r:.60}")
                continue
            counts[i] += 1
            stored_at[i] = t if stored_at[i] is None else min(stored_at[i], t)
            want = expected.signature(text)
            sum_got += sig
            sum_want += want
            if dim != workload.dim or sig != want:
                mismatches.append(
                    f"record {i}: vector dim {dim} signature {sig}, want {workload.dim} {want}"
                )
            if _epoch_ms(date) != round(gen.due[i] * 1000):
                mismatches.append(f"record {i}: date {date} is not its created_at")
    lost = sum(1 for c in counts if c == 0)
    duplicated = sum(1 for c in counts if c > 1)
    return {
        "correct": not mismatches and sum_got == sum_want and lost == 0 and duplicated == 0,
        "mismatches": mismatches[:5],
        "n_mismatches": len(mismatches),
        "signature_sum": sum_got,
        "signature_sum_expected": sum_want,
        "lost": lost,
        "duplicated": duplicated,
        "failed": lost + duplicated,
        "stored_at": stored_at,
    }


def provenance(workload: Workload, args, load_start, ticks_start) -> dict:
    import pyspark

    from perfbench.procfs import host_cpu_ticks

    steal, total = (b - a for a, b in zip(ticks_start, host_cpu_ticks()))

    return {
        "workload": workload.name,
        "why": workload.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": args.cores,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        # a share of CPU time taken by the host: the run measured the box too
        "cpu_steal_pct": 100 * steal / max(1, total),
        "offered_rate_per_s": workload.rate if workload.live else None,
        "backlog_records": None if workload.live else workload.backlog_per_second * args.seconds,
        "trigger_interval": workload.trigger or "availableNow",
        "titan_latency_ms": workload.titan_latency_s * 1000 if workload.embedder == "titan" else None,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _driver_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            # the Spark workers import the package and perfbench.tracing
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "PYSPARK_PYTHON": sys.executable,
            "TZ": "UTC",
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )


@dataclasses.dataclass
class Segment:
    """The measured stretch of a run: the backlog drain, or the live
    window."""

    run_id: str
    query: tuple[float, float]  # run_pipeline() call to termination
    window: tuple[float, float]  # the measured interval
    cpu_s: float | None  # backlog: driver-tree CPU over the drain
    records: list[int]  # generator indices whose latency counts
    kinesis: object
    opensearch: object


def run_tag(workload: Workload, args) -> str:
    """Names the run's files in perfbench/out."""
    tag = f"{workload.name}-seed{args.seed}-trace{args.trace}-cores{args.cores}"
    if workload.embedder == "titan":
        tag += f"-latency{workload.titan_latency_s * 1000:g}ms"
    return tag


def run_workload(workload: Workload, args) -> tuple[dict, dict]:
    """One run; returns (result line, details)."""
    from multiprocessing.connection import Connection

    from perfbench import analysis, procfs
    from perfbench.endpoints import (
        CountingKinesis,
        Generator,
        RecordingOpenSearch,
        SpanCollector,
    )

    load_start = list(os.getloadavg())
    ticks_start = procfs.host_cpu_ticks()
    tag = run_tag(workload, args)
    run_dir = os.path.join(OUT, f"{tag}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _driver_env(run_dir)
    trace = bool(args.trace)
    signature = _signature(workload.embedder)
    embedder = {"kind": workload.embedder, "latency_s": workload.titan_latency_s, "seed": args.seed}

    t0 = time.time()
    collector = SpanCollector() if trace else None
    gen = Generator(args.seed, workload.shards)
    stores: list[RecordingOpenSearch] = []
    servers: list = []
    parent, child = socket.socketpair()
    sampler = None

    def endpoints(stream: str):
        kinesis = CountingKinesis(stream, workload.shards, trace)
        opensearch = RecordingOpenSearch(signature, trace)
        servers.extend((kinesis, opensearch))
        stores.append(opensearch)
        return kinesis, opensearch, kinesis.start(), opensearch.start()

    try:
        kinesis, opensearch, kurl, ourl = endpoints("first")
        gen.prefill(kinesis, workload.warm_records)
        driver = subprocess.Popen(
            [
                sys.executable, "-m", "perfbench.driver",
                str(child.fileno()), str(args.cores), os.path.join(run_dir, "spark-local"),
            ],
            cwd=ROOT,
            pass_fds=(child.fileno(),),
        )
        child.close()
        sampler = procfs.TreeSampler(driver.pid)
        link = DriverLink(Connection(parent.detach()))
        ready = link.wait(_message("ready"), 120)

        def start(kurl, ourl, stream, trigger):
            link.send(
                op="start",
                kinesis=kurl,
                stream=stream,
                opensearch=ourl,
                index="embeddings",
                trigger=trigger,
                checkpoint=os.path.join(run_dir, f"ckpt-{stream}"),
                embedder=embedder,
                trace_port=collector.port if trace else None,
                dim=workload.dim,
            )
            return link.wait(_message("started"), 120)

        first_run, first_start = start(kurl, ourl, "first", workload.trigger)[1:]
        first = link.wait(
            lambda p: isinstance(p, dict) and p["runId"] == first_run and p["numInputRows"] > 0,
            150,
        )
        first_start_ts = analysis.parse_ts(first["timestamp"])
        setup_s = first_start_ts + first["durationMs"]["triggerExecution"] / 1000 - t0
        timeline = {
            "ready": ready[1] - t0,
            "first_query_started": first_start - t0,
            "first_trigger_start": first_start_ts - t0,
            "setup": setup_s,
        }

        if not workload.live:
            link.wait(_message("ended", first_run), 150)
            # an unmeasured drain first: the per-record paths are still
            # getting faster for tens of thousands of records
            for stream, n in (
                ("warm", workload.warm_drain),
                ("backlog", workload.backlog_per_second * args.seconds),
            ):
                kinesis, opensearch, kurl, ourl = endpoints(stream)
                lo = len(gen.texts)
                gen.prefill(kinesis, n)
                cpu0 = procfs.cpu_seconds(sampler.tree())
                run_id, q0 = start(kurl, ourl, stream, None)[1:]
                q1 = link.wait(_message("ended", run_id), 170)[2]
                cpu1 = procfs.cpu_seconds(sampler.tree())
            seg = Segment(
                run_id, (q0, q1), (q0, q1), cpu1 - cpu0,
                list(range(lo, len(gen.texts))), kinesis, opensearch,
            )
        else:
            g0 = time.time() + 0.2
            w0 = g0 + workload.warm_seconds
            w1 = w0 + args.seconds
            lo = len(gen.texts)
            loop = gen.open_loop(kinesis, workload.rate, g0, workload.warm_seconds + args.seconds)
            time.sleep(max(0.0, w1 - time.time()))
            loop.join(timeout=30)
            # let the tail of the loop reach the index
            deadline = time.time() + 20
            while time.time() < deadline and len(opensearch.stored) < len(gen.texts):
                time.sleep(0.1)
            link.send(op="stop")
            q1 = link.wait(_message("ended", first_run), 60)[2]
            seg = Segment(
                first_run, (first_start, q1), (w0, w1), None,
                [i for i in range(lo, len(gen.texts)) if w0 <= gen.due[i] < w1],
                kinesis, opensearch,
            )
        link.send(op="quit")
        link.wait(_message("bye"), 90)
        driver.wait(timeout=30)
        timeline["driver_exit"] = time.time() - t0
    finally:
        if sampler is not None:
            sampler.close()
        # the driver, the JVM, the PySpark daemon and its workers, on every
        # way out: none of them may serve a later run
        procfs.reap_descendants()
        for srv in servers:
            srv.stop()
        if collector is not None:
            collector.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    check = verify(workload, args.seed, gen, stores)
    stored_at = check.pop("stored_at")
    e2e = segment_metrics(workload, seg, gen, stored_at, link.progress, sampler)
    e2e["peak_rss_mb"] = (sampler.peak / 2**20, "MB")
    e2e["setup_s"] = (setup_s, "s")
    triggers = analysis.trigger_rows(link.progress, seg.run_id)
    details = {
        "provenance": provenance(workload, args, load_start, ticks_start),
        "spark_version": ready[2],
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "latency_samples": len(seg.records),
        "check": check,
        "timeline_s": timeline,
        "triggers": [
            {k: t[k] for k in ("batch", "start", "end", "rows", "durations")} for t in triggers
        ],
    }
    if trace:
        layers, self_ms, spans = layer_metrics(
            workload, gen, collector, triggers, seg, e2e,
            {None, *(p["runId"] for p in link.progress)},
        )
        details["per_layer"] = {k: v[0] for k, v in layers.items()}
        details["self_ms"] = self_ms
        with open(os.path.join(OUT, f"{tag}.spans.jsonl"), "w") as f:
            for sp in spans:
                f.write(json.dumps(sp, separators=(",", ":")) + "\n")
        metrics = layers
    else:
        metrics = e2e
    result = {
        "correct": check["correct"],
        "attempted": len(gen.texts),
        "failed": check["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({**details, "result": result}, f, indent=1)
    return result, details


def segment_metrics(workload, seg: Segment, gen, stored_at, progress, sampler) -> dict:
    from perfbench import analysis

    end_of_wait = time.time()
    w0, w1 = seg.window
    # a live record is due when the open loop schedules it; a backlog
    # record when its drain starts
    lat = [
        ((stored_at[i] if stored_at[i] is not None else end_of_wait)
         - (gen.due[i] if workload.live else w0)) * 1000
        for i in seg.records
    ]
    if workload.live:
        # whole triggers ending in the window: rows over the wall time
        # they span; the offered rate while the pipeline keeps up, its
        # capacity once it falls behind
        ends = sorted((t["end"], t["rows"]) for t in analysis.trigger_rows(progress, seg.run_id))
        inside = [i for i, (end, _) in enumerate(ends) if w0 <= end <= w1]
        if len(inside) < 2 or inside[0] == 0:
            raise RunFailed(f"too few triggers ended in the measured window: {len(inside)}")
        t0, t1 = ends[inside[0] - 1][0], ends[inside[-1]][0]
        rows = sum(ends[i][1] for i in inside)
        records_per_s = rows / (t1 - t0)
        cpu_per_record = (sampler.cpu_at(t1) - sampler.cpu_at(t0)) / rows
    else:
        indexed = sum(1 for i in seg.records if stored_at[i] is not None)
        records_per_s = indexed / (w1 - w0)
        cpu_per_record = seg.cpu_s / max(1, indexed)
    return {
        "records_per_s": (records_per_s, "1/s"),
        "latency_p50_ms": (analysis.percentile(lat, 50), "ms"),
        "latency_p99_ms": (analysis.percentile(lat, 99), "ms"),
        "cpu_ms_per_record": (cpu_per_record * 1000, "ms"),
    }


def layer_metrics(workload, gen, collector, triggers, seg: Segment, e2e, known_runs):
    """Per-layer metrics of a traced run's measured segment, plus every span
    as written out."""
    from perfbench import analysis

    run_id, kinesis, opensearch, window = seg.run_id, seg.kinesis, seg.opensearch, seg.window
    q0, q1 = seg.query
    spans = [
        sp for sp in collector.spans
        if sp["run"] == run_id or (sp["run"] is None and q0 <= sp["start"] <= q1)
    ]
    def by(name):
        return [sp for sp in spans if sp["name"] == name]

    def dur(ss):
        return sum(sp["end"] - sp["start"] for sp in ss)

    busy = [t for t in triggers if t["rows"] > 0] or triggers

    def p50(key):
        return analysis.percentile([t["durations"].get(key, 0) for t in busy], 50)

    observed: dict[str, dict[str, int]] = {}
    for t in triggers:
        for name, vals in t["observed"].items():
            for k, v in vals.items():
                observed.setdefault(name, {})
                observed[name][k] = observed[name].get(k, 0) + int(v or 0)
    rows_in = observed.get("graft_parse", {}).get("rows_in", 0)
    emitted = sum(t["rows"] for t in triggers)
    lag = [kinesis.appended_by(t["start"]) - analysis.committed_records(t["start_offset"]) for t in triggers]
    embeds, invokes, bulks = by("embed.batch"), by("embed.invoke"), by("sink.bulk")
    rows_embedded = sum(sp["rows"] for sp in embeds)
    leaves = analysis.leaf_spans(
        spans,
        [s for s in kinesis.spans if q0 <= s[1] <= q1],
        [s for s in opensearch.bulk_spans if q0 <= s[0] <= q1],
    )
    self_ms = analysis.self_times(triggers, leaves, window)
    layers = {
        "trigger.count": (len(triggers), "count"),
        "trigger.rows": (analysis.percentile([t["rows"] for t in busy], 50), "count"),
        "trigger.execution_ms": (p50("triggerExecution"), "ms"),
        "trigger.latest_offset_ms": (p50("latestOffset"), "ms"),
        "trigger.query_planning_ms": (p50("queryPlanning"), "ms"),
        "trigger.add_batch_ms": (p50("addBatch"), "ms"),
        "trigger.wal_commit_ms": (p50("walCommit"), "ms"),
        "trigger.commit_offsets_ms": (p50("commitOffsets"), "ms"),
        "query.outside_trigger_s": ((q1 - q0) - sum(t["end"] - t["start"] for t in triggers), "s"),
        "source.get_records_calls": (kinesis.calls["GetRecords"], "count"),
        "source.list_shards_calls": (kinesis.calls["ListShards"], "count"),
        "source.records_served": (kinesis.served, "count"),
        "source.fetch_amplification": (kinesis.served / max(1, emitted), "ratio"),
        "source.lag_records": (analysis.percentile(lag, 50), "count"),
        "parse.rows_in": (rows_in, "count"),
        "parse.rows_corrupt": (observed.get("graft_parse", {}).get("rows_corrupt", 0), "count"),
        "filter.rows_nonempty": (observed.get("graft_docs", {}).get("rows_nonempty", 0), "count"),
        "embed.calls": (len(embeds), "count"),
        "embed.rows": (rows_embedded, "count"),
        "embed.busy_ms": (dur(embeds) * 1000, "ms"),
        "embed.invokes": (len(invokes), "count"),
        "embed.concurrency": (dur(invokes) / dur(embeds) if invokes and embeds else 0.0, "ratio"),
        "embed.retries": (max(0, len(invokes) - rows_embedded) if invokes else 0, "count"),
        "embed.dead_lettered": (observed.get("graft_embed", {}).get("rows_dead_lettered", 0), "count"),
        "sink.bulk_requests": (opensearch.bulk_requests, "count"),
        "sink.docs_per_bulk": (len(opensearch.stored) / max(1, opensearch.bulk_requests), "count"),
        "sink.bulk_bytes": (
            sum(s[2] for s in opensearch.bulk_spans) / max(1, len(opensearch.bulk_spans)),
            "bytes",
        ),
        "sink.bulk_client_ms": (sum(sp["end"] - sp["start"] - sp["upstream_wait"] for sp in bulks) * 1000, "ms"),
        "sink.bulk_server_ms": (opensearch.bulk_server_s * 1000, "ms"),
        "sink.throttled": (opensearch.throttled, "count"),
        "sink.clients_built": (len(by("sink.client_built")), "count"),
        "gen.records": (len(gen.texts), "count"),
        "gen.late_ms_p99": (analysis.percentile(gen.late, 99) * 1000 if gen.late else 0.0, "ms"),
        "trace.spans_unmatched": (
            sum(1 for sp in collector.spans if sp["run"] not in known_runs), "count",
        ),
        "trace.spans_lost": (collector.lost(), "count"),
        "trace.span_rows_vs_parse": (rows_embedded / max(1, rows_in), "ratio"),
    }
    for label, ms in self_ms.items():
        layers[f"self_ms.{label}"] = (ms, "ms")
    for k in ("records_per_s", "latency_p50_ms", "latency_p99_ms", "cpu_ms_per_record"):
        layers[f"traced.{k}"] = e2e[k]
    all_spans = spans + [
        {"name": f"source.{a}", "start": s, "end": e, "records": n, "parent": None, "run": None, "batch": None}
        for a, s, e, n in kinesis.spans
    ] + [
        {"name": "sink.server_bulk", "start": s, "end": e, "bytes": b, "parent": None, "run": None, "batch": None}
        for s, e, b in opensearch.bulk_spans
    ] + [
        {"name": f"trigger.{label}", "start": s, "end": e, "parent": f"{run_id}/{t['batch']}/trigger",
         "run": run_id, "batch": str(t["batch"])}
        for t in triggers for s, e, label in analysis.phase_intervals(t)
    ]
    return layers, self_ms, all_spans


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--cores", type=int, default=os.cpu_count(),
        help="Spark local[N]; defaults to nproc (1 gives the single-core baseline)",
    )
    parser.add_argument(
        "--titan-latency-ms", type=float, default=None,
        help="the fake Titan endpoint's latency per invoke (default: the workload's)",
    )
    args = parser.parse_args(argv)
    from perfbench import procfs

    procfs.become_subreaper()
    # a TERM unwinds through run_workload's clean-up like any failure
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    ok = True
    for name in names:
        workload = WORKLOADS[name]
        if args.titan_latency_ms is not None and workload.embedder == "titan":
            workload = dataclasses.replace(workload, titan_latency_s=args.titan_latency_ms / 1000)
        result, details = run_workload(workload, args)
        print(json.dumps({"provenance": details["provenance"]}), flush=True)
        line = result if len(names) == 1 else {"workload": name, **result}
        print(json.dumps(line), flush=True)
        ok = ok and result["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    # fails here, before any work, where the package is missing
    import real_time_genai_embeddings_for_rag_with_apache_flink_spark  # noqa: F401

    try:
        sys.exit(main())
    except RunFailed as exc:
        print(f"run failed: {exc}", file=sys.stderr)
        sys.exit(1)
