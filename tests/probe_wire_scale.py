"""One-off 10x scaling probe for the wire-protocol rows (r12 verdict
#7): st32 (producer round-trip) and st33 (wire-to-wire topology) at
their fixture scale (600 docs / 4 shards) vs 10x records x 2x shards
(6000 docs / 8 shards) through the same in-process endpoints. Warm run
first, then median of 3, same session — the BASELINE.md probe protocol.

    python tests/probe_wire_scale.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import plans
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans import (
        streaming_queries as sq,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("probe_wire_scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        spec = plans.all_specs()[name]
        t0 = time.time()
        spec.build(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    scales = {
        "base (600 docs / 4 shards)": (600, 4),
        "10x (6000 docs / 8 shards)": (6000, 8),
    }
    for name in ("st32_kinesis_producer_roundtrip",
                 "st33_reference_topology_wire_to_wire"):
        # 100x tier (r13 verdict #8): push the headline wire row one
        # decade further — 60k docs / 16 shards through the same
        # in-process endpoints — so the scaling evidence spans two
        # decades, not one.
        tiers = dict(scales)
        if name == "st33_reference_topology_wire_to_wire":
            tiers["100x (60000 docs / 16 shards)"] = (60000, 16)
        for label, (docs, shards) in tiers.items():
            sq._ST32_DOCS = sq._WIRE_DOCS = docs
            sq._ST32_SHARDS = sq._WIRE_SHARDS = shards
            run(name)  # warm
            times = [run(name) for _ in range(3)]
            print(
                f"{name} @ {label}: median {statistics.median(times):.2f}s "
                f"({', '.join(f'{t:.2f}' for t in times)})",
                flush=True,
            )
    # restore (harmless in a one-off process; explicit for REPL use)
    sq._ST32_DOCS = sq._WIRE_DOCS = 600
    sq._ST32_SHARDS = sq._WIRE_SHARDS = 4


if __name__ == "__main__":
    main()
