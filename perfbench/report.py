#!/usr/bin/env python3
"""Traced-run report from the results run.py keeps in
perfbench/target/results/: per workload and traced run, the self time of
each layer, the Spark job, stage and task counts, and the tracing
overhead, i.e. the traced run's end-to-end figures against the median of
the untraced runs kept beside it. For snapshot runs it also gives how
much of each query's wall time build, planning and execution leave
unaccounted.

    python3 perfbench/report.py
"""
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
E2E = ["latency_p50_s", "throughput_per_s"]


def load(pattern):
    out = []
    for p in sorted(glob.glob(pattern)):
        with open(p) as fh:
            out.append((os.path.basename(p), {k: v["value"] for k, v in json.load(fh)["metrics"].items()}))
    return out


def main():
    results = os.path.join(HERE, "target", "results")
    for workload in ("snapshot-sf0.1", "geotag-stream"):
        plain = load(os.path.join(results, workload + "-seed*-trace0.line.json"))
        traced = load(os.path.join(results, workload + "-seed*-trace1.line.json"))
        if not traced:
            continue
        print("== %s" % workload)
        for name, m in traced:
            print("  %s" % name)
            self_s = {k[5:-2]: v for k, v in m.items() if k.startswith("self.") and v}
            print("    self time (s): " + ", ".join(
                "%s %.2f" % kv for kv in sorted(self_s.items(), key=lambda kv: -kv[1])))
            print("    spark jobs %.1f, stages %.1f, tasks %.1f (%s)" % (
                m["spark.jobs"], m["spark.stages"], m["spark.tasks"],
                "per pass of the mix" if workload.startswith("snapshot") else "per phase-B batch"))
            if workload.startswith("snapshot"):
                with open(os.path.join(results, name.replace(".line.json", ".json"))) as fh:
                    pq = json.load(fh)["per_query"]
                gap = [r["unaccounted_ms"] for r in pq]
                share = [r["unaccounted_ms"] / r["wall_ms"] for r in pq]
                print("    wall - (build + plan + exec) per query: median %.1f ms, "
                      "range %.1f to %.1f ms, at most %.1f%% of a query's wall time (%d queries)"
                      % (statistics.median(gap), min(gap), max(gap), 100 * max(share), len(pq)))
            for k in E2E:
                base = [p[k] for _, p in plain]
                if base:
                    med = statistics.median(base)
                    print("    %s traced %.4f, untraced median %.4f of %d runs: %+.1f%%" % (
                        k, m["traced." + k], med, len(base), 100 * (m["traced." + k] / med - 1)))


if __name__ == "__main__":
    main()
