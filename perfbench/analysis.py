"""Turns one run's raw records (progress reports, spans, endpoint
counters) into the per-layer metrics and the self-time table."""

from __future__ import annotations

import datetime
import math
from collections import defaultdict

# Phases of one trigger in the order MicroBatchExecution runs them; the
# progress report gives their durations, laid out here from its start.
PHASES = (
    ("latestOffset", "latest_offset"),
    ("walCommit", "wal_commit"),
    ("getBatch", "planning"),
    ("queryPlanning", "planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit_offsets"),
)
LAYERS = (
    "outside_trigger",
    "latest_offset",
    "wal_commit",
    "planning",
    "add_batch",
    "commit_offsets",
    "trigger_other",
    "source",
    "embed",
    "embed_remote",
    "sink_encode",
    "sink_client",
    "sink_server",
)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    ordered = sorted(values)
    if not ordered:
        return 0.0
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def parse_ts(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_rows(progress: list[dict], run_id: str) -> list[dict]:
    out = []
    for p in progress:
        if p["runId"] != run_id:
            continue
        start = parse_ts(p["timestamp"])
        dur = p["durationMs"]
        out.append(
            {
                "batch": p["batchId"],
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000,
                "rows": p["numInputRows"],
                "durations": dur,
                "start_offset": (p["sources"][0].get("startOffset") or {}),
                "observed": p.get("observedMetrics") or {},
            }
        )
    return out


def committed_records(offset: dict) -> int:
    # kinesis-lite offsets: {"shards": {shard: last sequence number}}
    return sum(int(s) + 1 for s in offset.get("shards", {}).values() if s != "")


def phase_intervals(trig: dict) -> list[tuple[float, float, str]]:
    t = trig["start"]
    out = []
    for key, label in PHASES:
        d = trig["durations"].get(key, 0) / 1000
        if d > 0:
            out.append((t, t + d, label))
            t += d
    if trig["end"] > t:
        out.append((t, trig["end"], "trigger_other"))
    return out


def leaf_spans(
    worker_spans: list[dict],
    kinesis_spans: list[tuple[str, float, float, int]],
    bulk_spans: list[tuple[float, float, int]],
) -> list[tuple[float, float, str, object, float]]:
    """(start, end, label, pid, weight) for every traced layer span."""
    out = [(s, e, "source", None, 1.0) for _, s, e, _ in kinesis_spans]
    out += [(s, e, "sink_server", None, 1.0) for s, e, _ in bulk_spans]
    requests = defaultdict(list)
    for sp in worker_spans:
        if sp["name"] == "sink.request":
            requests[sp["pid"]].append((sp["start"], sp["end"]))
    for sp in worker_spans:
        name, s, e, pid = sp["name"], sp["start"], sp["end"], sp["pid"]
        if name == "embed.batch":
            out.append((s, e, "embed", pid, 1.0))
        elif name == "embed.invoke":
            out.append((s, e, "embed_remote", pid, 1.0))
        elif name == "sink.request":
            out.append((s, e, "sink_client", pid, 1.0))
        elif name == "sink.bulk":
            # encoding interleaves with waiting on upstream rows; spread
            # its busy share evenly over the part before the request
            req = sum(
                min(e, re) - max(s, rs)
                for rs, re in requests[pid]
                if rs < e and re > s
            )
            span = (e - s) - req
            busy = span - sp["upstream_wait"]
            if span > 0 and busy > 0:
                out.append((s, s + span, "sink_encode", pid, busy / span))
    return out


def _weights(active: list[tuple[str, object, float]]) -> dict[str, float]:
    """Layer weights at one instant. Per worker process the innermost
    layer wins (a Titan embed waiting on an invoke is embed_remote); a
    bulk request is sink_server while the server handles one."""
    per_pid: dict[object, dict[str, float]] = defaultdict(dict)
    servers = 0.0
    sources = 0.0
    for label, pid, w in active:
        if label == "sink_server":
            servers += w
        elif label == "source":
            sources += w
        else:
            per_pid[pid][label] = max(per_pid[pid].get(label, 0.0), w)
    weights: dict[str, float] = defaultdict(float)
    clients = 0.0
    for labels in per_pid.values():
        if "embed_remote" in labels:
            labels = {"embed_remote": 1.0}
        elif "sink_client" in labels:
            labels = {"sink_client": 1.0}
        for label, w in labels.items():
            if label == "sink_client":
                clients += w
            else:
                weights[label] += w
    weights["sink_server"] += servers
    weights["sink_client"] += max(0.0, clients - servers)
    weights["source"] += sources
    return {k: v for k, v in weights.items() if v > 0}


def self_times(
    triggers: list[dict],
    leaves: list[tuple[float, float, str, object, float]],
    window: tuple[float, float],
) -> dict[str, float]:
    """Milliseconds of the window attributed to each layer.

    The window is cut at every phase and span boundary. Each piece goes
    to the layers active in it, split by their weights; when the active
    weights sum to less than one, the rest is the enclosing phase's own
    time (``outside_trigger`` between triggers)."""
    lo, hi = window
    phases = [iv for t in triggers for iv in phase_intervals(t)]
    cuts = {lo, hi}
    for s, e, _ in phases:
        cuts.update(x for x in (s, e) if lo < x < hi)
    spans = [sp for sp in leaves if sp[1] > lo and sp[0] < hi]
    for s, e, *_ in spans:
        cuts.update(x for x in (s, e) if lo < x < hi)
    edges = sorted(cuts)
    phases.sort()
    spans.sort(key=lambda sp: sp[0])
    out: dict[str, float] = defaultdict(float)
    active: list[tuple[float, float, str, object, float]] = []
    nxt = 0
    ph = 0
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        while nxt < len(spans) and spans[nxt][0] <= mid:
            active.append(spans[nxt])
            nxt += 1
        active = [sp for sp in active if sp[1] > mid]
        while ph < len(phases) and phases[ph][1] <= mid:
            ph += 1
        phase = (
            phases[ph][2]
            if ph < len(phases) and phases[ph][0] <= mid
            else "outside_trigger"
        )
        dt = (b - a) * 1000
        weights = _weights([(sp[2], sp[3], sp[4]) for sp in active])
        total = sum(weights.values())
        scale = 1 / total if total > 1 else 1.0
        for label, w in weights.items():
            out[label] += dt * w * scale
        if total < 1:
            out[phase] += dt * (1 - total)
    return {k: out.get(k, 0.0) for k in LAYERS}
