"""The load process's side of a run: the instrumented fake endpoints,
the seeded load generator and the span collector.

All of it runs in the benchmark's own process, apart from the Spark
driver, so its CPU is not counted against the pipeline.
"""

from __future__ import annotations

import json
import random
import socket
import threading
import time
from collections import Counter

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_fake import (
    FakeKinesisServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
    FakeOpenSearchServer,
)


def shard_ids(n: int) -> list[str]:
    return [f"shardId-{i:012d}" for i in range(n)]


def iso_ms(t: float) -> str:
    """Wall time as the producer's ``created_at`` format (UTC, ms)."""
    ms = int(round(t * 1000))
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + (
        f".{ms % 1000:03d}Z"
    )


class CountingKinesis(FakeKinesisServer):
    """Fake Kinesis that counts requests and records served, keeps the
    append timeline (for source lag) and, when tracing, one span per
    request."""

    def __init__(self, stream: str, n_shards: int, trace: bool):
        super().__init__(stream, {s: [] for s in shard_ids(n_shards)})
        self.trace = trace
        self.calls: Counter[str] = Counter()
        self.served = 0
        self.spans: list[tuple[str, float, float, int]] = []
        self.appended: list[tuple[float, int]] = []  # (time, total so far)
        self._total = 0
        self._stats = threading.Lock()

    def append_batch(self, by_shard: dict[str, list[tuple[str, bytes]]]) -> None:
        for shard, recs in by_shard.items():
            if recs:
                self.append(shard, recs)
        with self._stats:
            self._total += sum(len(r) for r in by_shard.values())
            self.appended.append((time.time(), self._total))

    def _handle(self, action: str, payload: dict) -> dict:
        t0 = time.time()
        out = super()._handle(action, payload)
        t1 = time.time()
        n = len(out.get("Records", ()))
        with self._stats:
            self.calls[action] += 1
            self.served += n
            if self.trace:
                self.spans.append((action, t0, t1, n))
        return out

    def appended_by(self, t: float) -> int:
        with self._stats:
            total = 0
            for at, n in self.appended:
                if at > t:
                    break
                total = n
            return total


class RecordingOpenSearch(FakeOpenSearchServer):
    """Fake OpenSearch that keeps, per indexed document, only what the
    correctness check and the latency need: text, date, a vector
    signature and the time it was stored. The stored sources are dropped
    so 1024-d runs stay small in memory."""

    def __init__(self, signature, trace: bool):
        super().__init__()
        self.signature = signature
        self.trace = trace
        self.stored: list[tuple[str, str, int, int, float]] = []
        self.bulk_spans: list[tuple[float, float, int]] = []
        self.bulk_server_s = 0.0
        self.bulk_requests = 0
        self.throttled = 0
        self._outer = threading.Lock()

    def _handle(self, method: str, path: str, body: bytes):
        bulk = method == "POST" and path.rstrip("/").endswith("_bulk")
        if not bulk:
            return super()._handle(method, path, body)
        with self._outer:
            before = {k: len(v) for k, v in self.docs.items()}
            t0 = time.time()
            status, out = super()._handle(method, path, body)
            t1 = time.time()
            for index, docs in self.docs.items():
                start = before.get(index, 0)
                for src in docs[start:]:
                    vec = src.get("passage_embedding") or []
                    self.stored.append(
                        (
                            src.get("text"),
                            src.get("date"),
                            len(vec),
                            self.signature(vec),
                            t1,
                        )
                    )
                del docs[start:]
            self.bulk_requests += 1
            self.bulk_server_s += t1 - t0
            if status == 429:
                self.throttled += 1
            if self.trace:
                self.bulk_spans.append((t0, t1, len(body)))
            return status, out


class SpanCollector:
    """Receives worker spans over UDP and keeps them in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self.bad = 0
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 8 << 20)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                data = self._sock.recv(65536)
            except socket.timeout:
                continue
            try:
                self.spans.append(json.loads(data))
            except ValueError:
                self.bad += 1

    def lost(self) -> int:
        """Datagrams missing between the first and last span received from
        each worker process (a loss after a process's last span goes
        unseen)."""
        seqs: dict[int, set[int]] = {}
        for sp in self.spans:
            seqs.setdefault(sp["pid"], set()).add(sp["seq"])
        return sum(max(s) - min(s) + 1 - len(s) for s in seqs.values())

    def close(self) -> None:
        # drain what is already queued, then stop
        time.sleep(0.3)
        self._stop.set()
        self._thread.join(timeout=5)
        self._sock.close()


class Generator:
    """The seeded load generator. Record i's text depends only on the
    seed and i; its ``created_at`` is the time the record was due."""

    VOCAB = 4096

    def __init__(self, seed: int, n_shards: int):
        self.seed = seed
        self.shards = shard_ids(n_shards)
        rng = random.Random(f"vocab:{seed}")
        letters = "abcdefghijklmnopqrstuvwxyz"
        self._vocab = [
            "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
            for _ in range(self.VOCAB)
        ]
        self._rng = random.Random(f"docs:{seed}")
        self.texts: list[str] = []
        self.due: list[float] = []
        self.late: list[float] = []

    def _text(self) -> str:
        i = len(self.texts)
        words = self._rng.choices(self._vocab, k=self._rng.randint(8, 24))
        text = f"doc-{self.seed}-{i} " + " ".join(words)
        self.texts.append(text)
        return text

    def _wire(self, text: str, due: float) -> bytes:
        return json.dumps(
            {"text": text, "created_at": iso_ms(due)}, separators=(",", ":")
        ).encode()

    def prefill(self, kinesis: CountingKinesis, n: int) -> None:
        """Append n records at once, all due now. The put is late by the
        time it takes to generate them."""
        due = time.time()
        by_shard: dict[str, list[tuple[str, bytes]]] = {s: [] for s in self.shards}
        for _ in range(n):
            i = len(self.texts)
            text = self._text()
            by_shard[self.shards[i % len(self.shards)]].append(
                (str(i), self._wire(text, due))
            )
            self.due.append(due)
        kinesis.append_batch(by_shard)
        self.late.append(time.time() - due)

    def open_loop(
        self,
        kinesis: CountingKinesis,
        rate: float,
        start: float,
        seconds: float,
        flush_s: float = 0.1,
    ) -> threading.Thread:
        """Start the open loop: record k of this loop is due at
        start + k / rate, however far behind the pipeline is. Like the
        Kinesis Producer Library's default 100 ms RecordMaxBufferedTime,
        the producer puts what has come due every ``flush_s``; a
        record's latency still counts from its own due time. How late
        each put completes behind its scheduled flush is recorded."""
        total = int(round(rate * seconds))

        def loop() -> None:
            k = 0
            tick = start
            while k < total:
                tick += flush_s
                now = time.time()
                if tick > now:
                    time.sleep(tick - now)
                    now = time.time()
                by_shard: dict[str, list[tuple[str, bytes]]] = {}
                while k < total and start + k / rate <= now:
                    due = start + k / rate
                    i = len(self.texts)
                    text = self._text()
                    by_shard.setdefault(self.shards[i % len(self.shards)], []).append(
                        (str(i), self._wire(text, due))
                    )
                    self.due.append(due)
                    k += 1
                kinesis.append_batch(by_shard)
                self.late.append(time.time() - tick)

        thread = threading.Thread(target=loop, name="generator", daemon=True)
        thread.start()
        return thread
