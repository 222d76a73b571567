"""The Spark driver process of a run.

It builds the session, forwards every query progress report to the load
process and runs ``streaming.pipeline.run_pipeline`` on the load
process's commands. The load process starts it as a fresh interpreter,

    python3 -m perfbench.driver <socket fd> <cores> <spark.local.dir>

so it inherits nothing from the load process but its environment and the
socket both talk over.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback

def _embedder_factory(spec: dict, trace_port: int | None):
    from perfbench.tracing import TitanFactory, TracedEmbedderFactory
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        Md5BowEmbedder,
    )

    if spec["kind"] == "titan":
        factory = TitanFactory(spec["latency_s"], spec["seed"], trace_port)
    else:
        factory = Md5BowEmbedder
    if trace_port is not None:
        factory = TracedEmbedderFactory(factory, trace_port)
    return factory


def _config(cmd: dict):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
        PipelineConfig,
    )

    extra = {
        "kinesis_stream": cmd["stream"],
        "kinesis_region": "us-east-1",
        "kinesis_endpoint": cmd["kinesis"],
        "hosts": [cmd["opensearch"]],
        "index": cmd["index"],
    }
    if cmd["trace_port"] is not None:
        from perfbench.tracing import TracedClientFactory

        extra["client_factory"] = TracedClientFactory(
            [cmd["opensearch"]], cmd["trace_port"]
        )
    else:
        extra["transport"] = "http"
    titan = cmd["embedder"]["kind"] == "titan"
    return PipelineConfig(
        source_format="kinesis-lite",
        sink_format="opensearch",
        start_position="earliest",
        embedding_model="titan-v2" if titan else "md5bow",
        embedding_dim=cmd["dim"],
        checkpoint_dir=cmd["checkpoint"],
        trigger_interval=cmd["trigger"],
        extra=extra,
    )


def main(conn, cores: int, local_dir: str) -> None:
    # Nothing the JVM or its workers print may reach the result stream.
    os.dup2(2, 1)
    lock = threading.Lock()

    def send(*msg) -> None:
        with lock:
            conn.send(msg)

    try:
        from pyspark.sql.streaming import StreamingQueryListener

        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.session import (
            build_session,
        )
        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
            run_pipeline,
        )

        spark = build_session(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": local_dir,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")

        class Forward(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                send("progress", event.progress.json)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                send("terminated", str(event.runId), time.time(), event.exception)

        spark.streams.addListener(Forward())
        send("ready", time.time(), spark.version)
        query = None
        while True:
            cmd = conn.recv()
            if cmd["op"] == "start":
                t0 = time.time()
                query = run_pipeline(
                    spark,
                    _config(cmd),
                    embedder_factory=_embedder_factory(
                        cmd["embedder"], cmd["trace_port"]
                    ),
                )
                send("started", str(query.runId), t0)
                if cmd["trigger"] is None:
                    query.awaitTermination()
                    send("ended", str(query.runId), time.time(), _error(query))
            elif cmd["op"] == "stop":
                query.stop()
                send("ended", str(query.runId), time.time(), _error(query))
            elif cmd["op"] == "quit":
                break
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        send("bye")
    except BaseException:
        send("error", traceback.format_exc())
        raise


def _error(query) -> str | None:
    exc = query.exception()
    return None if exc is None else str(exc)


if __name__ == "__main__":
    from multiprocessing.connection import Connection

    main(Connection(int(sys.argv[1])), int(sys.argv[2]), sys.argv[3])
