"""Traced-run report: runs every workload once untraced and once traced
with the same seed, ``titan_live`` once more traced with a slower fake
Titan endpoint, and ``backlog_drain`` once at ``local[1]``, then writes
perfbench/REPORT.md with the per-layer table, the self time per layer,
the tracing overhead, the Titan latency sensitivity and the single-core
baseline.

    python3 perfbench/report.py [--seed 7] [--seconds 12]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import subprocess
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import OUT, WORKLOADS, run_tag  # noqa: E402

E2E = ("records_per_s", "latency_p50_ms", "latency_p99_ms", "cpu_ms_per_record")
# the sensitivity point for the fake Titan endpoint's stand-in latency
SLOW_TITAN_MS = 100.0


def run(
    workload: str, seed: int, seconds: int, trace: int, cores: int,
    titan_latency_ms: float | None = None,
) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores),
    ]
    w = WORKLOADS[workload]
    if titan_latency_ms is not None:
        cmd += ["--titan-latency-ms", str(titan_latency_ms)]
        w = dataclasses.replace(w, titan_latency_s=titan_latency_ms / 1000)
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    tag = run_tag(w, types.SimpleNamespace(seed=seed, trace=trace, cores=cores))
    with open(os.path.join(OUT, f"{tag}.json")) as f:
        return json.load(f)


def largest_busy(self_ms: dict) -> str:
    busy = {k: v for k, v in self_ms.items() if k != "outside_trigger"}
    return max(busy, key=busy.get)


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:,.3f}" if abs(v) < 100 else f"{v:,.0f}"
    return f"{v:,}"


def workload_section(name: str, plain: dict, traced: dict) -> list[str]:
    prov = traced["provenance"]
    lines = [
        f"## `{name}`",
        "",
        prov["why"],
        "",
        f"Offered rate {prov['offered_rate_per_s'] or '-'} records/s, trigger "
        f"{prov['trigger_interval']}, backlog {prov['backlog_records'] or '-'} records. "
        f"Load average at start {prov['loadavg_start'][0]:.2f} (untraced run "
        f"{plain['provenance']['loadavg_start'][0]:.2f}). Correct: "
        f"{plain['result']['correct'] and traced['result']['correct']}, failed "
        f"{plain['result']['failed']} / {traced['result']['failed']}.",
        "",
        "| End-to-end metric | untraced | traced | tracing overhead |",
        "|---|---:|---:|---:|",
    ]
    for k in E2E:
        a, b = plain["end_to_end"][k], traced["end_to_end"][k]
        lines.append(f"| `{k}` | {_fmt(a)} | {_fmt(b)} | {100 * (b - a) / a:+.1f}% |")
    for k in ("peak_rss_mb", "setup_s"):
        lines.append(f"| `{k}` | {_fmt(plain['end_to_end'][k])} | {_fmt(traced['end_to_end'][k])} | |")
    self_ms = traced["self_ms"]
    window = sum(self_ms.values())
    top = largest_busy(self_ms)
    lines += [
        "",
        f"Self time over the measured window ({window / 1000:.1f} s). The largest busy "
        f"layer is **`{top}`** ({100 * self_ms[top] / window:.0f}% of the window).",
        "",
        "| Layer | self ms | share |",
        "|---|---:|---:|",
    ]
    for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
        lines.append(f"| `{k}` | {v:,.0f} | {100 * v / window:.1f}% |")
    lines += ["", "| Per-layer metric | value |", "|---|---:|"]
    for k, v in traced["per_layer"].items():
        if not k.startswith(("self_ms.", "traced.")):
            lines.append(f"| `{k}` | {_fmt(v)} |")
    return lines + [""]


def titan_sensitivity(base: dict, slow: dict) -> list[str]:
    """Self time on titan_live at the stand-in latency and at a slower one."""
    a, b = base["provenance"]["titan_latency_ms"], slow["provenance"]["titan_latency_ms"]
    wa, wb = sum(base["self_ms"].values()), sum(slow["self_ms"].values())
    lines = [
        f"## `titan_live` at {a:g} ms and {b:g} ms fake Titan latency (traced)",
        "",
        f"The fake endpoint's {a:g} ms is a stand-in, not a measured Bedrock latency. "
        f"This traced run repeats `titan_live` with the fake answering in {b:g} ms. "
        f"The largest busy layer is **`{largest_busy(base['self_ms'])}`** at {a:g} ms and "
        f"**`{largest_busy(slow['self_ms'])}`** at {b:g} ms. Correct: "
        f"{slow['result']['correct']}, failed {slow['result']['failed']}.",
        "",
        f"| Metric | {a:g} ms | {b:g} ms |",
        "|---|---:|---:|",
    ]
    for k in (*E2E, "embed.concurrency", "embed.busy_ms", "trigger.add_batch_ms"):
        key = k if "." in k else f"traced.{k}"
        lines.append(
            f"| `{key}` | {_fmt(base['per_layer'][key])} | {_fmt(slow['per_layer'][key])} |"
        )
    lines += ["", f"| Layer | {a:g} ms share | {b:g} ms share |", "|---|---:|---:|"]
    for k, v in sorted(base["self_ms"].items(), key=lambda kv: -kv[1]):
        lines.append(
            f"| `{k}` | {100 * v / wa:.1f}% | {100 * slow['self_ms'].get(k, 0) / wb:.1f}% |"
        )
    return lines + [""]


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--seed", type=int, default=7)
    parser.add_argument("--seconds", type=int, default=12)
    args = parser.parse_args()
    nproc = os.cpu_count()
    sections = []
    results = {}
    for name in WORKLOADS:
        plain = run(name, args.seed, args.seconds, 0, nproc)
        traced = run(name, args.seed, args.seconds, 1, nproc)
        results[name] = plain
        results[f"{name}/traced"] = traced
        sections += workload_section(name, plain, traced)
    sections += titan_sensitivity(
        results["titan_live/traced"],
        run("titan_live", args.seed, args.seconds, 1, nproc, SLOW_TITAN_MS),
    )
    single = run("backlog_drain", args.seed, args.seconds, 0, 1)
    prov = results["backlog_drain"]["provenance"]
    lines = [
        "# perfbench traced-run report",
        "",
        f"Generated by `python3 perfbench/report.py --seed {args.seed} --seconds "
        f"{args.seconds}` on {nproc} vCPUs, Spark {prov['spark']}, Python "
        f"{prov['python']}. Each workload ran once untraced and once traced with "
        "the same seed. Self time splits the measured window's wall time among "
        "the layers active in it (see README.md). Single runs on a noisy host: "
        "read the shares, not the third digit. The tracing-overhead column "
        "compares one untraced and one traced run, so it sits inside the 10 to "
        "15% run-to-run spread of ten untraced runs and does not resolve the "
        "overhead itself.",
        "",
        *sections,
        "## Single-core baseline (`backlog_drain`, reported, not gated)",
        "",
        f"| Metric | local[{nproc}] | local[1] |",
        "|---|---:|---:|",
    ]
    for k in (*E2E, "peak_rss_mb", "setup_s"):
        lines.append(
            f"| `{k}` | {_fmt(results['backlog_drain']['end_to_end'][k])} | "
            f"{_fmt(single['end_to_end'][k])} |"
        )
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
