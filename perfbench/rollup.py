"""Turns the harness's result files into the benchmark's metrics.

End-to-end metrics come from queries.tsv and summary.tsv alone, so they are
the same computation with tracing on or off. Per-layer metrics roll the
spans and counters of a traced run up to means per timed query.
"""
import math
import statistics
from pathlib import Path

FS_OPS = ["list", "stat", "open", "read", "create", "write", "mkdirs", "rename", "delete"]

END_TO_END_UNITS = {
    "qps": "1/s",
    "query_s.p50": "s",
    "setup_s": "s",
}

PER_LAYER_UNITS = {
    "query_s.samples": "count",
    "query_s.p90": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
    "traced.qps": "1/s",
    "traced.query_s.p50": "s",
    "operators.build_s": "s/query",
    "catalyst.plan_s": "s/query",
    "catalog.commands": "count/query",
    "catalog.command_s": "s/query",
    "exec.job_busy_s": "s/query",
    "exec.jobs": "count/query",
    "exec.stages": "count/query",
    "exec.tasks": "count/query",
    "exec.tasks_failed": "count/query",
    "exec.task_run_s": "s/query",
    "exec.task_cpu_s": "s/query",
    "exec.task_gc_s": "s/query",
    "exec.shuffle_write_bytes": "B/query",
    "exec.spill_bytes": "B/query",
    "driver.gap_s": "s/query",
    **{f"fs.{op}.calls": "count/query" for op in FS_OPS},
    **{f"fs.{op}.s": "s/query" for op in FS_OPS},
    "fs.bytes_read": "B/query",
    "fs.bytes_written": "B/query",
    "fs.driver_calls": "count/query",
    "fs.stat.found_ratio": "ratio",
}

# Per-layer figures of the run as a whole, not means over its queries.
RUN_LEVEL = {"query_s.samples", "query_s.p90", "ok_frac", "peak_rss_mb", "traced.qps",
             "traced.query_s.p50", "fs.stat.found_ratio"}


def read_tsv(path: Path) -> list:
    if not path.exists():
        return []
    return [line.split("\t") for line in path.read_text().splitlines() if line]


def read_queries(out: Path) -> list:
    rows = []
    for f in read_tsv(out / "queries.tsv"):
        seq, name, phase, start, built, planned, end = f[:7]
        digest = f[7] if len(f) > 7 else ""
        error = f[8] if len(f) > 8 else ""
        rows.append({
            "seq": int(seq), "name": name, "phase": phase, "start": int(start),
            "built": int(built), "planned": int(planned), "end": int(end),
            "digest": digest, "error": error,
        })
    return rows


def read_summary(out: Path) -> dict:
    return {k: v for k, v in read_tsv(out / "summary.tsv")}


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(1, math.ceil(q * len(s))) - 1]


def union_length(intervals: list) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_query_layers(out: Path, timed: list) -> dict:
    """seq -> {layer metric: value} for each timed query of a traced run."""
    seqs = {q["seq"]: q for q in timed}
    layers = {s: {k: 0.0 for k in PER_LAYER_UNITS} for s in seqs}
    jobs = {s: [] for s in seqs}
    stat_found = {s: 0 for s in seqs}
    for kind, name, seq, start, end, driver, found in read_tsv(out / "spans.tsv"):
        s = int(seq)
        if s not in seqs:
            continue
        q, dur = seqs[s], (int(end) - int(start)) / 1e9
        m = layers[s]
        if kind == "job":
            # clip to the query's own interval: listener times have ms grain
            jobs[s].append((max(int(start), q["start"]), min(int(end), q["end"])))
            m["exec.jobs"] += 1
        elif kind == "command":
            m["catalog.commands"] += 1
            m["catalog.command_s"] += dur
        elif kind == "fs":
            m[f"fs.{name}.calls"] += 1
            m[f"fs.{name}.s"] += dur
            m["fs.driver_calls"] += int(driver)
            if name == "stat":
                stat_found[s] += int(found)
    for f in read_tsv(out / "exec.tsv"):
        s = int(f[0])
        if s in seqs:
            st, tasks, failed, run_ms, cpu_ns, gc_ms, shuffle, spill = map(int, f[1:9])
            m = layers[s]
            m.update({
                "exec.stages": st, "exec.tasks": tasks, "exec.tasks_failed": failed,
                "exec.task_run_s": run_ms / 1e3, "exec.task_cpu_s": cpu_ns / 1e9,
                "exec.task_gc_s": gc_ms / 1e3, "exec.shuffle_write_bytes": shuffle,
                "exec.spill_bytes": spill,
            })
    for f in read_tsv(out / "streams.tsv"):
        s = int(f[0])
        if s in seqs:
            rc, rns, rb, wc, wns, wb = map(int, f[1:7])
            m = layers[s]
            m.update({"fs.read.calls": rc, "fs.read.s": rns / 1e9, "fs.bytes_read": rb,
                      "fs.write.calls": wc, "fs.write.s": wns / 1e9, "fs.bytes_written": wb})
    for s, q in seqs.items():
        m = layers[s]
        wall = (q["end"] - q["start"]) / 1e9
        plan = (q["planned"] - q["built"]) / 1e9
        busy = union_length([iv for iv in jobs[s] if iv[1] > iv[0]]) / 1e9
        m["operators.build_s"] = (q["built"] - q["start"]) / 1e9
        m["catalyst.plan_s"] = plan
        m["exec.job_busy_s"] = busy
        # no job in flight, less planning; negative if jobs overlapped planning
        m["driver.gap_s"] = wall - busy - plan
        m["_stats"] = m["fs.stat.calls"]
        m["_found"] = stat_found[s]
    return layers


def median_latency(timed: list, ref: dict) -> float:
    """The workload's median query latency, estimated from one run's shard.

    The median of each query's latency over its reference cost, times the
    median reference cost of the whole workload (`ref`: query -> cost). A
    plain median of a 19-query shard moves with the queries that happen to sit
    in its middle, by up to 15% between lake-lifecycle's shards; this estimate
    does not depend on which shard ran, and moves by x% when every query's
    latency does.
    """
    ratios = [(q["end"] - q["start"]) / 1e9 / ref[q["name"]] for q in timed]
    return statistics.median(ratios) * statistics.median(ref.values())


def end_to_end(queries: list, summary: dict, expected: dict, ref: dict) -> tuple:
    """(metrics, attempted, failed, problems) for the timed queries of one run;
    `ref` maps each query of the workload to its reference cost."""
    timed = [q for q in queries if q["phase"] == "timed"]
    problems, failed, ok = [], 0, 0
    for q in timed:
        verdict = check(q, expected)
        if verdict == "ok":
            ok += 1
        else:
            failed += 1
            if verdict != "known":
                problems.append(f"{q['name']}: {verdict}")
    lat = [(q["end"] - q["start"]) / 1e9 for q in timed]
    wall = (int(summary["timed_end"]) - int(summary["setup_end"])) / 1e9
    metrics = {
        "qps": ok / wall if wall > 0 else 0.0,
        "query_s.p50": median_latency(timed, ref) if timed else 0.0,
        "query_s.p90": percentile(lat, 0.9) if lat else 0.0,
        "ok_frac": ok / len(timed) if timed else 0.0,
        # JVM start to the end of the warm-up: session, prewarm, warm-up
        "setup_s": (int(summary["setup_end"]) - int(summary["jvm_start"])) / 1e9,
        "peak_rss_mb": int(summary["peak_rss_kb"]) / 1024.0,
    }
    return metrics, len(timed), failed, problems


def check(q: dict, expected: dict) -> str:
    """'ok', 'known' (an expected failure), or what went wrong."""
    want = expected.get(q["name"])
    if want is None:
        return "no expected digest"
    if want.startswith("error:"):
        if q["error"].split(":", 1)[0] == want[len("error:"):]:
            return "known"
        return f"expected {want}, got {q['error'] or q['digest']}"
    if q["error"]:
        return f"failed: {q['error']}"
    if q["digest"] != want:
        return f"digest {q['digest']} != expected {want}"
    return "ok"


def per_layer(out: Path, queries: list) -> dict:
    timed = [q for q in queries if q["phase"] == "timed"]
    layers = per_query_layers(out, timed)
    n = max(1, len(layers))
    metrics = {k: sum(m[k] for m in layers.values()) / n for k in PER_LAYER_UNITS
               if k not in RUN_LEVEL}
    stats = sum(m["_stats"] for m in layers.values())
    metrics["fs.stat.found_ratio"] = sum(m["_found"] for m in layers.values()) / stats \
        if stats else 0.0
    return metrics
