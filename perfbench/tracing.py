"""Instruments that run inside Spark tasks: the traced embedder and
OpenSearch client wrappers, and the fake Titan (Bedrock) client.

Spark pickles these objects into its Python workers, so they live in an
importable module and hold only picklable state. Spans leave a worker as
UDP datagrams to the collector in the load process (``endpoints.py``),
which keeps them in memory and writes them out when the run ends.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import os
import random
import socket
import time

TITAN_DIM = 1024
# Titan vectors are drawn as k / 2**20 with |k| < 2**19: exact in float32,
# so the checksum of an indexed vector is an exact integer after the
# round trip through Arrow, the bulk JSON and the fake OpenSearch.
_TITAN_SCALE = 1 << 20
_TITAN_BODIES = 64


def _task_tags() -> tuple[str | None, str | None]:
    """(runId, batchId) of the streaming query that launched this task.

    Structured Streaming sets each query job's job group to the query's
    runId and the local property ``streaming.sql.batchId`` to the batch."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is None:
        return None, None
    return (
        tc.getLocalProperty("spark.jobGroup.id"),
        tc.getLocalProperty("streaming.sql.batchId"),
    )


class SpanSender:
    """Sends one finished span per datagram to the collector's port.
    Spans carry a per-process sequence number, so the collector can count
    the datagrams that never arrived."""

    _seq = itertools.count()

    def __init__(self, port: int):
        self.port = port
        self._sock: socket.socket | None = None

    def __getstate__(self):
        return {"port": self.port, "_sock": None}

    def send(self, name: str, start: float, end: float, **attrs) -> None:
        run, batch = _task_tags()
        seq = next(self._seq)
        span = {
            "name": name,
            "id": f"{os.getpid()}-{seq}",
            "seq": seq,
            "parent": f"{run}/{batch}/addBatch",
            "run": run,
            "batch": batch,
            "pid": os.getpid(),
            "start": start,
            "end": end,
            **attrs,
        }
        if self._sock is None:
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.sendto(
            json.dumps(span, separators=(",", ":")).encode(),
            ("127.0.0.1", self.port),
        )


# -- embed layer -------------------------------------------------------------


class TracedEmbedderFactory:
    """``embedder_factory`` that wraps each embedder the inner factory
    builds, recording one ``embed.batch`` span per ``embed_batch`` call."""

    def __init__(self, inner, port: int):
        self.inner = inner
        self.sender = SpanSender(port)

    def __call__(self, dim: int):
        return _TracedEmbedder(self.inner(dim), self.sender)


class _TracedEmbedder:
    def __init__(self, inner, sender: SpanSender):
        self._inner = inner
        self._sender = sender
        self.dim = inner.dim

    @property
    def row_errors(self):
        # embed() reads per-row failures from the adapter it was given
        return getattr(self._inner, "row_errors", None)

    def embed_batch(self, texts):
        t0 = time.time()
        out = self._inner.embed_batch(texts)
        errors = self.row_errors or []
        self._sender.send(
            "embed.batch",
            t0,
            time.time(),
            rows=len(texts),
            dead=sum(1 for e in errors if e),
        )
        return out


@functools.lru_cache(maxsize=4)
def titan_bodies(seed: int) -> tuple[bytes, ...]:
    """The fake Titan endpoint's precomputed response bodies."""
    bodies = []
    for k in range(_TITAN_BODIES):
        rng = random.Random(f"titan:{seed}:{k}")
        vec = [
            rng.randrange(-(1 << 19), 1 << 19) / _TITAN_SCALE
            for _ in range(TITAN_DIM)
        ]
        bodies.append(
            json.dumps({"embedding": vec, "inputTextTokenCount": 16}).encode()
        )
    return tuple(bodies)


def titan_body_index(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % _TITAN_BODIES


def titan_checksum(vec) -> int:
    """Position-weighted exact checksum of one Titan vector."""
    return sum((j + 1) * round(v * _TITAN_SCALE) for j, v in enumerate(vec))


class FakeTitanClient:
    """``bedrock-runtime`` stand-in for ``BedrockTitanEmbedder(client=...)``:
    sleeps a fixed latency per ``invoke_model`` and answers one of a few
    precomputed deterministic 1024-d bodies, chosen by the text's md5, so
    its own cost is small and constant."""

    def __init__(self, latency_s: float, seed: int, port: int | None = None):
        self.latency_s = latency_s
        # built here, once per worker process, not by the pool threads
        self.bodies = titan_bodies(seed)
        self.sender = SpanSender(port) if port is not None else None

    def invoke_model(self, modelId, body, accept, contentType):  # noqa: N803
        t0 = time.time()
        text = json.loads(body)["inputText"]
        time.sleep(self.latency_s)
        out = {"body": self.bodies[titan_body_index(text)]}
        if self.sender is not None:
            self.sender.send("embed.invoke", t0, time.time())
        return out


class TitanFactory:
    """``embedder_factory`` building the production Titan adapter over
    the fake client."""

    def __init__(self, latency_s: float, seed: int, port: int | None = None):
        self.latency_s = latency_s
        self.seed = seed
        self.port = port

    def __call__(self, dim: int):
        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
            BedrockTitanEmbedder,
        )

        return BedrockTitanEmbedder(
            "titan-v2",
            client=FakeTitanClient(self.latency_s, self.seed, self.port),
        )


# -- sink layer --------------------------------------------------------------


class TracedClientFactory:
    """``cfg.extra["client_factory"]`` around ``http_opensearch_factory``:
    counts the clients built and records one ``sink.bulk`` span per bulk
    call (with the time spent waiting on upstream rows) and one
    ``sink.request`` span per HTTP request."""

    def __init__(self, hosts, port: int):
        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
            http_opensearch_factory,
        )

        self.inner = http_opensearch_factory(hosts)
        self.sender = SpanSender(port)

    def __call__(self):
        client, bulk = self.inner()
        now = time.time()
        self.sender.send("sink.client_built", now, now)
        return _TracedClient(client, self.sender), functools.partial(
            _traced_bulk, bulk, self.sender
        )


class _TracedClient:
    def __init__(self, inner, sender: SpanSender):
        self._inner = inner
        self._sender = sender

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def request(self, method, path, body=None, content_type="application/json"):
        t0 = time.time()
        try:
            return self._inner.request(method, path, body, content_type)
        finally:
            self._sender.send(
                "sink.request", t0, time.time(), bytes=len(body or b"")
            )


def _traced_bulk(bulk, sender: SpanSender, client, actions):
    waited = 0.0

    def timed(it):
        nonlocal waited
        while True:
            t = time.perf_counter()
            try:
                action = next(it)
            except StopIteration:
                waited += time.perf_counter() - t
                return
            waited += time.perf_counter() - t
            yield action

    t0 = time.time()
    n = bulk(client, timed(iter(actions)))
    sender.send("sink.bulk", t0, time.time(), docs=n, upstream_wait=waited)
    return n
