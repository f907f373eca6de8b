"""Median and quartiles per workload and metric over recorded runs.

    python3 perfbench/summarize.py [.perfbench/results/*.json ...]

Reads the records perfbench/run.py writes and prints one JSON object per
(host fingerprint, workload, trace): for each metric the run count, the
median, the quartiles (`statistics.quantiles(values, n=4)`) and the spread
(q3 - q1) / median, and, for end-to-end runs, the medians of the set-up
split (JVM start, table registration, cold pass).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def summarize(paths):
    groups = {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        d = rec["detail"]
        key = (json.dumps(d["host"], sort_keys=True), d["workload"], d["trace"])
        groups.setdefault(key, []).append(rec)
    out = []
    for (host, workload, trace), recs in sorted(groups.items()):
        metrics = {}
        for name in recs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in recs]
            row = {"n": len(vals), "median": statistics.median(vals)}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                row.update(q1=q1, q3=q3, spread=(q3 - q1) / row["median"] if row["median"] else 0.0)
            metrics[name] = row
        entry = {"host": json.loads(host), "workload": workload, "trace": trace,
                 "seeds": sorted(r["detail"]["seed"] for r in recs),
                 "failed": sum(r["detail"]["doc_fail_share"] > 0 for r in recs), "metrics": metrics}
        if not trace:
            entry["setup_split"] = {k: statistics.median(r["detail"][k] for r in recs)
                                    for k in ("jvm_start_s", "register_s", "cold_pass_s")}
        out.append(entry)
    return out


def main(argv=None) -> int:
    paths = (argv if argv is not None else sys.argv[1:]) or glob.glob(
        os.path.join(".perfbench", "results", "*.json"))
    for entry in summarize(paths):
        print(json.dumps(entry))
    return 0


if __name__ == "__main__":
    sys.exit(main())
