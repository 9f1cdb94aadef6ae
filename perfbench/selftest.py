"""Harness self-test, at sf0.001 with one pass and a few keys per workload.

    python3 perfbench/selftest.py

Run from the repository root. For every workload it runs the benchmark
twice in child processes: once untraced and clean, once traced with one
answer deliberately broken. It checks that every metric BENCHMARK.json
names is printed with its unit, that the clean run counts no failure, and
that the broken answer is counted in ``ops_failed_frac``. Exits 1 on any
failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _break_one_answer(workload: str, cfg: dict) -> None:
    """Make the first key (or the sink's merge) return a wrong answer."""
    if workload == "ingest":
        from noaa_etl_daily_spark import streaming

        merge = streaming.merge_user_partials
        streaming.merge_user_partials = lambda e, b: merge(e, b).where("user_id <> 0")
        return
    from noaa_etl_daily_spark.registry import load_all

    query = load_all()[cfg["keys"][0]]
    build = query.builder
    query.builder = lambda spark, sf_dir: build(spark, sf_dir).limit(0)


def child(workload: str, trace: int, broken: bool) -> int:
    import run

    cfg = run.WORKLOADS[workload]
    cfg["sf"] = 0.001
    if "keys" in cfg:
        cfg["keys"] = cfg["keys"][:3]
    else:
        cfg["min_drains"] = 1
    if broken:
        prepare = run._prepare_env

        def prepare_then_break(work: str, data_dir: str) -> None:
            prepare(work, data_dir)  # the engine imports after this
            _break_one_answer(workload, cfg)

        run._prepare_env = prepare_then_break
    return run.main([
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace),
    ])


def _check(workload: str, trace: int, broken: bool, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", workload,
         str(trace), str(int(broken))],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    tag = f"{workload} trace={trace} broken={broken}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    out = json.loads(lines[-1])
    errors = []
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = out["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"{tag}: metric {m['name']} missing or not in {m['unit']}")
        elif not any(
            line.startswith(f"{m['name']} ") and line.endswith(f" {m['unit']}")
            for line in lines
        ):
            errors.append(f"{tag}: {m['name']} not printed with its unit")
    frac = [line for line in lines if line.startswith("ops_failed_frac ")]
    if not frac:
        errors.append(f"{tag}: ops_failed_frac not printed")
    if broken and (out["failed"] < 1 or out["correct"] or frac[0].split()[1] == "0"):
        errors.append(f"{tag}: the broken answer was not counted: {lines[-1]}")
    if not broken and (out["failed"] or not out["correct"]):
        errors.append(f"{tag}: a clean run reported failures: {lines[-2:]}")
    return errors


def main() -> int:
    if sys.argv[1:2] == ["--child"]:
        workload, trace, broken = sys.argv[2], int(sys.argv[3]), sys.argv[4] == "1"
        return child(workload, trace, broken)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace, broken in ((0, False), (1, True)):
            found = _check(w["name"], trace, broken, spec)
            print(f"{w['name']} trace={trace} broken={broken}: "
                  f"{'ok' if not found else 'FAILED'}", flush=True)
            errors += found
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
