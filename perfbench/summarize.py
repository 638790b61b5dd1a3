"""Summarize benchmark runs: per workload, the untraced and traced
end-to-end metrics side by side (median and quartile spread over runs),
and the tracing overhead as traced minus untraced median.

    python3 perfbench/summarize.py [--digest SOURCE_DIGEST] [--out FILE]

Reads the records ``run.py`` appends to ``.perfbench_work/results.jsonl``;
smoke runs are skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, WORK  # noqa: E402

FIGURES = (*END_TO_END, "read_p50_s", "ops_per_s", "cpu_s_per_op", "peak_rss_mb", "search_p50_s", "search_p90_s",
           "query_vectors_per_s", "write_p50_s", "ingest_docs_per_s",
           "pipeline_pass_s", "failed_ops_frac", "stored_bytes_per_user_byte")


def spread(xs: list[float]) -> dict:
    m = statistics.median(xs)
    out = {"median": m, "n": len(xs)}
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        out["iqr_over_median"] = (q[2] - q[0]) / m if m else None
    return out


def summarize(records: list[dict]) -> dict:
    out: dict = {}
    for r in records:
        w = out.setdefault(r["workload"], {"untraced": {}, "traced": {}, "hosts": set()})
        side = w["traced" if r["trace"] else "untraced"]
        for k in FIGURES:
            v = r["end_to_end"].get(k)
            if v is not None:
                side.setdefault(k, []).append(v)
        h = r["host"]
        w["hosts"].add((h["nproc"], h["SPARK_GRAFT_CPUS"], h["spark"], h["java"], h["python"],
                        h["commit"], h["source_digest"]))
    for w in out.values():
        for side in ("untraced", "traced"):
            w[side] = {k: spread(v) for k, v in w[side].items()}
        w["trace_overhead"] = {
            k: w["traced"][k]["median"] - w["untraced"][k]["median"]
            for k in END_TO_END if k in w["traced"] and k in w["untraced"]
        }
        keys = ("nproc", "SPARK_GRAFT_CPUS", "spark", "java", "python", "commit", "source_digest")
        w["hosts"] = [dict(zip(keys, h)) for h in sorted(w["hosts"], key=str)]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--digest", help="only runs of this engine source digest")
    ap.add_argument("--out", help="write the summary here as JSON")
    a = ap.parse_args()
    with open(os.path.join(WORK, "results.jsonl")) as f:
        records = [json.loads(line) for line in f]
    records = [r for r in records if not r["smoke"]
               and (a.digest is None or r["host"]["source_digest"] == a.digest)]
    text = json.dumps(summarize(records), indent=1, sort_keys=True)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
