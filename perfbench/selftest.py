#!/usr/bin/env python3
"""Self-test of the benchmark's own plumbing.

    python3 perfbench/selftest.py

Checks, on small inputs, that what the traced run reports is wired up:

- a shuffle query reports jobs > 0 and shuffle bytes > 0;
- for each traced batch query, build + plan + action is within 10% of
  the query's traced wall time;
- a stream job reports micro-batches, state rows > 0 and Python worker
  rows > 0;
- BENCHMARK.json names every metric run.py reports, with its unit.

Prints one line per check and exits 1 if any fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
from spans import Tracer  # noqa: E402



def main() -> int:
    results: list[tuple[str, bool, str]] = []

    def check(name: str, ok: bool, detail: str) -> None:
        results.append((name, ok, detail))
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}", flush=True)

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench_spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layer_units = {k: m["unit"] for k, m in json.load(f)["metrics"].items()}
    e2e = {m["name"]: m["unit"] for m in bench_spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench_spec["per_layer"]}
    check("end_to_end names", e2e == run.END_TO_END_UNITS, f"{sorted(e2e)}")
    check("per_layer names", per_layer == layer_units, f"{len(per_layer)} metrics")

    b = run.Bench("corpus", seed=1, seconds=0, trace=True)
    os.makedirs(b.run_dir, exist_ok=True)
    try:
        b.batch_setup()
        b.start_session()
        b.tracer, b._traced_pass = Tracer(), True

        b.sc.setJobGroup("selftest-shuffle", "shuffle", False)
        b.spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().write.format(
            "noop"
        ).mode("overwrite").save()
        st = b.probe.stages("selftest-shuffle")
        check(
            "shuffle counters",
            st["jobs"] > 0 and st["shuffle_write_bytes"] > 0 and st["shuffle_read_bytes"] > 0,
            f"jobs={st['jobs']} shuffle_write={st['shuffle_write_bytes']} shuffle_read={st['shuffle_read_bytes']}",
        )

        for name in run.CORPUS_QUERIES:
            b.run_query(name, collect=False)
        spans = b.tracer.spans
        for q in (s for s in spans if s["name"] == "query" and "wall" in s):
            parts = sum(s["end"] - s["start"] for s in spans if s["parent"] == q["id"])
            ok = abs(parts - q["wall"]) <= 0.1 * q["wall"]
            check(f"span cover {q['query']}", ok, f"build+plan+action={parts:.3f}s wall={q['wall']:.3f}s")
        b.stream_setup()
        b.stream_pass(["order_timeout_stream"], "selftest")
        c = b.counters.v
        check(
            "stream state",
            c["streaming.batches"] > 0 and c["streaming.state_rows_peak"] > 0,
            f"batches={c['streaming.batches']:.0f} state_rows_peak={c['streaming.state_rows_peak']:.0f}",
        )
        py = c["operators.python_rows"]
        check("python worker rows", py > 0, f"{py:.0f} rows out of applyInPandasWithState")
        check("no failures", not b.failures, f"{len(b.failures)} failed operations")
    finally:
        b.shutdown()
        shutil.rmtree(b.run_dir, ignore_errors=True)
    return 0 if all(ok for _, ok, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
