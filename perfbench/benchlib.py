"""Pure logic of the graft benchmark: percentiles, stream latency from
ledger offsets, backlog growth, output checks, and the metric line.

run.py gathers raw measurements from the JVM harness (perfbench/src) and
hands them to `metrics_line`; everything here is plain Python so that
tests/test_benchlib.py can pin it without Spark.
"""
import json
import os
import statistics

MB = 1024.0 * 1024.0

def percentile(values, p):
    """p-quantile (0 <= p <= 1) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n):
    """The highest percentile, at most p90, with at least ten of `n` sorted
    samples beyond it: rank n-11 of 0..n-1. None when that rank falls
    below the median (n < 21)."""
    if n < 21:
        return None
    return min(0.9, (n - 11) / (n - 1))


def parse_offset(text):
    """Ledger offset JSON {"<partition>": [ledgerId, entryId], ...} to
    {partition: (ledgerId, entryId)}; entryId is the next entry to read."""
    return {int(p): (int(c[0]), int(c[1])) for p, c in json.loads(text).items()}


def read_topic(topic):
    """Every entry of a ledger topic directory as
    (partition, ledgerId, entryId, payload dict), in log order."""
    out = []
    for name in sorted(os.listdir(topic)):
        if not name.startswith("partition-"):
            continue
        p = int(name[len("partition-"):])
        pdir = os.path.join(topic, name)
        ledgers = sorted(int(f[len("ledger-"):-len(".log")]) for f in os.listdir(pdir)
                         if f.startswith("ledger-") and f.endswith(".log"))
        for lid in ledgers:
            with open(os.path.join(pdir, "ledger-%d.log" % lid), encoding="utf-8") as fh:
                for e, line in enumerate(fh.read().splitlines()):
                    out.append((p, lid, e, json.loads(line.split(",", 1)[1])))
    return out


def commit_times(entries, batches):
    """For each entry (partition, ledgerId, entryId, ...), the end time (ms)
    of the first batch whose end offset lies past it, or None when no batch
    committed it. `batches` are in commit order, each with `end_ms` and an
    `end_offset` JSON string."""
    ends = [(b["end_ms"], parse_offset(b["end_offset"])) for b in batches]
    out = []
    for entry in entries:
        p, lid, eid = entry[0], entry[1], entry[2]
        hit = None
        for end_ms, cur in ends:
            c = cur.get(p)
            if c is not None and (c[0] > lid or (c[0] == lid and c[1] > eid)):
                hit = end_ms
                break
        out.append(hit)
    return out


def event_latencies(entries, batches, phase_start_ms):
    """Seconds from each phase-B event's creation stamp (`created_us`, due
    time after the phase start) to the end of the batch that committed it.
    Events stamped below 0 were published before the phase and are skipped.
    Raises if a phase-B event was never committed."""
    timed = [e for e in entries if e[3].get("created_us", -1) >= 0]
    lat = []
    for e, end_ms in zip(timed, commit_times(timed, batches)):
        if end_ms is None:
            raise ValueError("event %s/%s/%s was never committed" % e[:3])
        lat.append((end_ms - phase_start_ms - e[3]["created_us"] / 1000.0) / 1000.0)
    return lat


def backlog_grows(series, slack):
    """True when a backlog series keeps growing: the median of its last
    third exceeds the median of its first third by more than `slack`."""
    if len(series) < 6:
        return False
    k = len(series) // 3
    return statistics.median(series[-k:]) - statistics.median(series[:k]) > slack


def load_expected(path):
    """expected.tsv: query, rows, content hash per line."""
    out = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#"):
                q, rows, h = line.split("\t")
                out[q] = (int(rows), h)
    return out


def output_failures(expected, outputs):
    """Names of the queries whose (rows, hash) differ from `expected`,
    including queries with no expected value."""
    return [q for q, rows, h in outputs if expected.get(q) != (int(rows), str(h))]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def snapshot_layers(raw):
    """Per-layer figures of a traced snapshot run: counts per pass, times
    as per-query means."""
    pq = raw["per_query"]
    passes = max(1, len({r["pass"] for r in pq}))
    spark = [r["spark"] for r in pq]
    wall = sum(r["wall_ms"] for r in pq) / 1e3
    out = {
        "operators.build_ms": _mean([r["build_ms"] for r in pq]),
        "operators.eager_jobs": sum(r["eager_jobs"] for r in pq) / passes,
        "spark.plan_ms": _mean([r["plan_ms"] for r in pq]),
        "spark.exec_ms": _mean([r["exec_ms"] for r in pq]),
        "spark.unaccounted_ms": _mean([r["unaccounted_ms"] for r in pq]),
    }
    for k in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[k] = sum(s[k] for s in spark) / passes
    for k in ("spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
              "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb"):
        out[k] = sum(s[k] for s in spark) / passes
    out["spark.max_task_s"] = max((s["spark.max_task_s"] for s in spark), default=0.0)
    out["spark.tasks_per_stage"] = out["spark.tasks"] / out["spark.stages"] if out["spark.stages"] else 0.0
    # driver share of the whole timed section, weighting each query by its wall
    busy = sum((1 - s["spark.driver_share"]) * r["wall_ms"] / 1e3 for s, r in zip(spark, pq))
    out["spark.driver_share"] = 1 - busy / wall if wall else 0.0
    out.update(raw["layers"])
    return out


def stream_layers(raw):
    """Per-layer figures of a traced stream run, over its phase-B batches."""
    b = raw["phase_b"]

    def dur(k):
        return _mean([x["duration_ms"].get(k, 0) for x in b])

    def metric(k):
        return [float(x["metrics"].get(k, 0)) for x in b]

    jobs = [raw["batch_jobs"].get(x["batch"], 0) for x in b]
    sp = [raw["batch_spark"].get(x["batch"]) for x in b]
    sp = [s for s in sp if s]
    out = {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.batch_entries": _mean(metric("batchEntries")),
        "sources.batch_mb": _mean(metric("batchBytes")) / MB,
        "sources.backlog_max": max(metric("maxPartitionBacklog"), default=0.0),
        "sources.decode_failures": max(metric("decodeFailures"), default=0.0),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.jobs_per_batch": statistics.median(jobs) if jobs else 0.0,
    }
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
              "spark.shuffle_read_mb", "spark.spill_mb"):
        out[k] = _mean([s[k] for s in sp])
    out["spark.max_task_s"] = max((s["spark.max_task_s"] for s in sp), default=0.0)
    out["spark.tasks_per_stage"] = out["spark.tasks"] / out["spark.stages"] if out["spark.stages"] else 0.0
    # share of the batches' wall time during which no task ran
    wall = sum((x["end_ms"] - x["start_ms"]) / 1e3 for x in b)
    out["spark.driver_share"] = max(0.0, 1 - sum(s["spark.busy_s"] for s in sp) / wall) if wall else 0.0
    out.update(raw["layers"])
    out["generator.late_ms_max"] = max(raw["generator_late_ms"], default=0.0)
    # self time per layer over phase B, from the engine's per-step durations:
    # the source's offset planning, executor-busy time, and the rest of the
    # micro-batch machinery (planning, foreachBatch driver work, WAL, commit)
    trigger = sum(x["duration_ms"].get("triggerExecution", 0) for x in b) / 1e3
    src = sum(x["duration_ms"].get("latestOffset", 0) + x["duration_ms"].get("getBatch", 0)
              for x in b) / 1e3
    busy = sum(s["spark.busy_s"] for s in sp)
    out["self.sources_s"] = src
    out["self.spark_s"] = busy
    out["self.streaming_s"] = max(0.0, trigger - src - busy)
    return out


def end_to_end(workload, raw, stream_entries=None):
    """The end-to-end metrics of one run, and the failures found while
    computing them (each counts as a failed operation)."""
    problems = []
    if workload.startswith("snapshot"):
        lat = raw["latencies_s"]
        rate = len(lat) / raw["timed_s"]
    else:
        # drain rate: the median over phase-A batches of rows per second
        rate = statistics.median(x["rows"] / max(1, x["end_ms"] - x["start_ms"]) * 1e3
                                 for x in raw["phase_a"])
        lat = event_latencies(stream_entries, raw["phase_b"], raw["phase_b_start_ms"])
        # batches that started while the generator ran (not the final drain)
        stop_ms = raw["phase_b_start_ms"] + raw["phase_b_seconds"] * 1000
        backlog = [float(x["metrics"].get("maxPartitionBacklog", 0)) for x in raw["phase_b"]
                   if x["start_ms"] < stop_ms]
        if backlog_grows(backlog, raw["phase_b_rate"]):
            problems.append("phase B backlog grew: the open-loop rate exceeds capacity")
        late = max(raw["generator_late_ms"], default=0.0)
        if late > LATE_LIMIT_MS:
            problems.append("generator ran %.0f ms late" % late)
    level = tail_level(len(lat))
    if level is None:
        problems.append("only %d latency samples" % len(lat))
        level = 0.5
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "build_s": raw["build_s"],
        "latency_p50_s": percentile(lat, 0.5),
        "latency_tail_s": percentile(lat, level),
        "throughput_per_s": rate,
    }, problems


# A phase-B tick published this late (ms) invalidates the run.
LATE_LIMIT_MS = 500.0


def metrics_line(workload, raw, traced, entries, expected_path, e2e_specs, layer_specs):
    """The result object run.py prints, plus a `problems` list naming each
    failed operation or check."""
    attempted, failed = raw["attempted"], raw["failed"]
    problems = list(raw.get("failures", []))
    if workload.startswith("snapshot"):
        bad = output_failures(load_expected(expected_path), raw["outputs"])
        attempted += len(raw["outputs"])
        failed += len(bad)
        problems += ["output of %s differs from expected.tsv" % q for q in bad]
    e2e, invalid = end_to_end(workload, raw, entries)
    attempted += 1  # the run's own validity: samples, backlog, generator
    failed += 1 if invalid else 0
    problems += invalid
    if traced:
        figures = snapshot_layers(raw) if workload.startswith("snapshot") else stream_layers(raw)
        if workload.startswith("snapshot"):
            figures.update({"self.%s_s" % k: v for k, v in raw["self_s"].items()})
        figures.update({"traced." + k: v for k, v in e2e.items()})
        specs = layer_specs
    else:
        figures, specs = e2e, e2e_specs
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": float(figures.get(name, 0.0)), "unit": unit}
                        for name, unit in specs},
            "problems": problems}
