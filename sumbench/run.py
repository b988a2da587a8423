"""Summarizer benchmark: times graft.app.Summarizer end to end and layer by layer.

    python3 sumbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sumbench/build.py), then runs
one workload in one JVM: set-up, warm-up, a closed loop of one caller for
--seconds, output checks. Every LLM call goes to an in-process stub provider
that counts it. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Spans of traced runs are written to
.bench_build/work/traces/.

Other modes:
    python3 sumbench/run.py --selftest                 # the harness's own tests
    python3 sumbench/run.py --write-benchmark-json     # regenerate BENCHMARK.json
    python3 sumbench/run.py --record-digests 0-49      # record summary digests
"""

import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

DIGESTS = build.BENCH / "digests.txt"
RUN_TIMEOUT_S = 170

SPEC = {
    "command": ["python3", "sumbench/run.py"],
    "paths": ["sumbench"],
    "run_seconds": 10,
    "workloads": [
        {"name": "ref_llm",
         "why": "one reference-shaped transcript (4,778 segments, 23 chunks), 100 ms provider, 750-token "
                "replies, sinks written: map concurrency, reduce batching and paid LLM calls move it"},
        {"name": "corpus_mock",
         "why": "12 short transcripts of 2-6 speakers in turn, instant provider: fixed per-call Spark cost "
                "dominates and speaker breaks exercise the merge fold; LLM-side changes should not move it"},
    ],
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "transcript_s_p50", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "transcript_s_tail", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "transcripts_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
        {"name": "llm_calls_per_transcript", "unit": "count", "better": "lower", "bound": 0.02},
        {"name": "llm_tokens_per_transcript", "unit": "count", "better": "lower", "bound": 0.02},
        {"name": "heap_mb_peak", "unit": "MiB", "better": "lower", "bound": 0.1},
    ],
    "per_layer": [
        {"name": n, "unit": u, "better": b} for n, u, b in [
            ("app.jobs", "count", "lower"),
            ("app.stages", "count", "lower"),
            ("app.task_s", "s", "lower"),
            ("load.s", "s", "lower"),
            ("load.rows", "count", "higher"),
            ("prep.s", "s", "lower"),
            ("prep.rows_out", "count", "higher"),
            ("prep.jobs", "count", "lower"),
            ("prep.task_s", "s", "lower"),
            ("prep.shuffle_mb", "MiB", "lower"),
            ("chunk.s", "s", "lower"),
            ("chunk.chunks", "count", "lower"),
            ("chunk.fill", "ratio", "higher"),
            ("chunk.jobs", "count", "lower"),
            ("chunk.task_s", "s", "lower"),
            ("map.s", "s", "lower"),
            ("map.calls", "count", "lower"),
            ("map.distinct_prompts", "count", "lower"),
            ("map.paid_ratio", "ratio", "higher"),
            ("map.inflight_mean", "count", "higher"),
            ("map.inflight_max", "count", "higher"),
            ("map.jobs", "count", "lower"),
            ("reduce.s", "s", "lower"),
            ("reduce.calls", "count", "lower"),
            ("reduce.levels", "count", "lower"),
            ("reduce.batches", "count", "lower"),
            ("reduce.jobs", "count", "lower"),
            ("sink.s", "s", "lower"),
            ("trace.overhead_s", "s", "lower"),
        ]
    ],
}

# As build.sbt passes them to every forked JVM.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def java(classes: Path, main: str, args: list) -> list:
    cp = f"{classes}{os.pathsep}{build.spark_jars()}/*"
    return (["java", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
            + build.jvm_env_opts() + ADD_OPENS + ["-cp", cp, main] + args)


def run_jvm(cmd: list, timeout: float):
    """Run `cmd` in its own process group; stdout captured, stderr passed on.
    On timeout the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"sumbench: timed out after {timeout} s", file=sys.stderr)
        return None, ""
    return p.returncode, out.decode("utf-8", "replace")


def validate(result: dict, trace: int) -> str:
    """Why `result` breaks the output contract, or '' when it keeps it."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"keys {sorted(result)}"
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return "attempted must be a whole number >= 1"
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        return f"metrics {sorted(set(got) ^ {m['name'] for m in want})} missing or unexpected"
    for m in want:
        v = got[m["name"]]
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            return f"metric {m['name']} is {v}"
    return ""


def bench(args) -> int:
    classes = build.build()
    work = build.OUT / "work"
    code, out = run_jvm(java(classes, "sumbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", str(work), "--digests", str(DIGESTS)]),
        RUN_TIMEOUT_S)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        print(f"sumbench: harness exited with {code}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    problem = validate(result, args.trace) if isinstance(result, dict) else "no result line"
    if problem:
        sys.stderr.write(out)
        print(f"sumbench: bad result: {problem}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-benchmark-json", action="store_true")
    ap.add_argument("--record-digests", metavar="FROM-TO")
    args = ap.parse_args()

    if args.write_benchmark_json:
        (build.ROOT / "BENCHMARK.json").write_text(json.dumps(SPEC, indent=2) + "\n")
        return 0
    try:
        if args.selftest:
            code, out = run_jvm(java(build.build(), "sumbench.SelfTest", []), RUN_TIMEOUT_S)
            sys.stdout.write(out)
            return 1 if code != 0 else 0
        if args.record_digests:
            names = [args.workload] if args.workload else [w["name"] for w in SPEC["workloads"]]
            for name in names:
                code, _ = run_jvm(java(build.build(), "sumbench.Main", [
                    "--record", str(DIGESTS), "--workload", name, "--seeds", args.record_digests,
                    "--work", str(build.OUT / "work")]), 3600)
                if code != 0:
                    return 1
            return 0
        if not args.workload:
            ap.error("--workload is required")
        return bench(args)
    except build.BuildError as e:
        print(f"sumbench: build failed: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
