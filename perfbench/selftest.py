"""Self-tests of the benchmark itself, on every query of every mix.

Run from the repository root (about twenty minutes at local[4]):

    python3 perfbench/selftest.py [workload ...]

1. Counts repeat: each query's ``spark.jobs`` and
   ``spark.shuffle_write_bytes`` match across two seeds (two query
   orders) and across an untraced and a traced pass. Any mismatch is
   printed with the query, counter and values.
2. Outputs are correct: every query's collected result matches its
   DuckDB oracle (``failed`` is 0 for every mix).
3. Window attribution: e39's window-attributed jobs are at least its
   job-group jobs (stream-thread jobs carry no caller group), and its
   listener saw triggers.
4. A planted wrong result (q01 cut to one row) raises the failed
   fraction above 0.

Exits 1 if any check fails.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402
from mixes import MIXES  # noqa: E402

COUNTS = ("jobs", "shuffle_write_bytes")


def repeat_mismatches(recs: list[dict]) -> list[str]:
    seen: dict[tuple[str, str], set] = {}
    for rec in recs:
        for s in rec["samples"]:
            for key in COUNTS:
                seen.setdefault((s["query"], key), set()).add(s["spark"][key])
    return [f"{q} {key}: {sorted(v)}" for (q, key), v in sorted(seen.items()) if len(v) > 1]


def main(argv: list[str]) -> int:
    workloads = argv or sorted(MIXES)
    run_dir = os.path.join(bench.WORK, f"selftest-{os.getpid()}")
    bench.isolate(run_dir)
    from kaylee_spark.queries import QuerySpec, load_all

    specs = load_all()
    errors: list[str] = []
    spark = bench.start_spark()
    try:
        for w in workloads:
            queries = MIXES[w].queries
            recs = [
                bench.measure(spark, specs, w, queries, seed=1, seconds=0, trace=True),
                bench.measure(spark, specs, w, queries, seed=2, seconds=0, trace=False),
            ]
            for rec in recs:
                bench.check(rec, specs)
            mism = repeat_mismatches(recs)
            failures = [f for r in recs for f in r["failures"]]
            print(f"{w}: {len(queries)} queries, {sum(r['attempted'] for r in recs)} executions, "
                  f"{len(failures)} failed, {len(mism)} counts that do not repeat", flush=True)
            errors += [f"{w} count does not repeat: {m}" for m in mism]
            errors += [f"{w} failed: {f}" for f in failures]
            for s in recs[1]["samples"]:
                if s["query"] == "e39_streamed_outer_join":
                    c, st = s["spark"], s["streaming"]
                    print(f"e39: {c['jobs']} window jobs, {c['group_jobs']} group jobs, "
                          f"{st['triggers']} triggers", flush=True)
                    if c["jobs"] < c["group_jobs"] or st["triggers"] <= 0:
                        errors.append(f"e39 attribution: {c['jobs']} window jobs, "
                                      f"{c['group_jobs']} group jobs, {st['triggers']} triggers")

        q01 = specs["q01_pricing_summary"]
        planted = QuerySpec("planted_q01", lambda s, d: q01.fn(s, d).limit(1), q01.oracle, None)
        rec = bench.measure(spark, {"planted_q01": planted}, "planted", ("planted_q01",), 1, 0, False)
        bench.check(rec, {"planted_q01": planted})
        frac = rec["failed"] / rec["attempted"]
        print(f"planted wrong result: failed_frac={frac:.3f}", flush=True)
        if frac <= 0:
            errors.append("planted wrong result was not caught")
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        print(f"SELFTEST FAIL {e}")
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
