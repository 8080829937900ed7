#!/usr/bin/env python3
"""perfbench: the repo's benchmark. See perfbench/README.md.

Usage:
  python3 perfbench/run.py --workload read-only --seed 1 --seconds 30 --trace 0
  python3 perfbench/run.py --list-metrics

Runs one workload as a closed loop with one client against graft.SparkEntry,
every file call served by rgw-model (a local file system with a fixed
round-trip delay), checks every result against its expected digest, and
prints one JSON object as the last line of standard output.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import rollup  # noqa: E402

SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# A run must end within 180 s, the build included.
RUN_LIMIT_S = 170
# The timed shard stops early once it has taken this many times `seconds`.
RUN_CAP = 4
HEAP = "3g"
# rgw-model's delay per charged call when --rgw-delay-ms is not given.
DELAY_US = 1000
CPUS = len(os.sched_getaffinity(0))
# Untimed warm-up of the JVM and of the code paths the workload's queries take,
# run during set-up. Without the catalog warm-up, the first few timed
# lake-lifecycle queries ran 1.5 to 2 times slower than later ones, so the
# seeded order moved the run's median.
WARMUP = {
    "read-only": ["q01_pricing_summary"],
    "lake-lifecycle": ["q01_pricing_summary", "q241_catalog_write", "q261_sql_delete",
                       "q271_sql_update", "q272_merge_into"],
}
# Workloads that probe the persisted serving indexes (IVF, PQ, BM25); their
# set-up builds them, as ingestion would, so no timed query pays for it.
PREWARM = {"read-only"}


def load_workloads() -> dict:
    """workload -> [(query, reference cost in s)], from workloads.tsv."""
    out = {}
    for line in (HERE / "workloads.tsv").read_text().splitlines():
        if line and not line.startswith("#"):
            q, w, cost = line.split("\t")
            out.setdefault(w, []).append((q, float(cost)))
    return out


def load_expected() -> dict:
    """query -> expected digest, or 'error:<exception class>' for a known failure."""
    out = {}
    for line in (HERE / "expected.tsv").read_text().splitlines():
        if line and not line.startswith("#"):
            q, d = line.split("\t")
            out[q] = d
    return out


def shards(queries: list, k: int) -> list:
    """Cuts a workload into k shards of equal size and matching cost profile.

    Queries are dealt by descending reference cost in snake order (1..k,
    k..1, ...), so each shard gets one query of every band of k consecutive
    cost ranks; a local search then swaps pairs of the same band between
    shards until their reference cost totals agree. Keeping the bands keeps
    the shards' medians together too. A run measures one shard, so every
    seed sees the same mix.
    """
    ranked = sorted(queries, key=lambda qc: (-qc[1], qc[0]))
    out = [[] for _ in range(k)]
    for i, (q, c) in enumerate(ranked):
        band, j = divmod(i, k)
        out[j if band % 2 == 0 else k - 1 - j].append((q, c, band))
    total = lambda s: sum(c for _, c, _ in s)  # noqa: E731
    improved = True
    while improved:
        improved = False
        hi = max(range(k), key=lambda i: total(out[i]))
        lo = min(range(k), key=lambda i: total(out[i]))
        gap = total(out[hi]) - total(out[lo])
        best = None
        for a, (_, ca, band_a) in enumerate(out[hi]):
            for b, (_, cb, band_b) in enumerate(out[lo]):
                d = ca - cb
                if band_a == band_b and 0 < d < gap and \
                        (best is None or abs(gap - 2 * d) < best[0]):
                    best = (abs(gap - 2 * d), a, b)
        if best is not None and best[0] < gap:
            _, a, b = best
            out[hi][a], out[lo][b] = out[lo][b], out[hi][a]
            improved = True
    return [sorted((q, c) for q, c, _ in s) for s in out]


def shard_count(queries: list, seconds: float) -> int:
    """Shards whose reference cost is about `seconds` each."""
    return max(1, round(sum(c for _, c in queries) / seconds))


def timed_order(workload: str, queries: list, seed: int, seconds: float) -> list:
    """The seed's shard of the workload, in seeded order."""
    k = shard_count(queries, seconds)
    shard = shards(queries, k)[seed % k]
    names = [name for name, _ in shard]
    random.Random(f"{workload}/{seed}").shuffle(names)
    return names


def java(classes: Path, out: Path, delay_us: int) -> list:
    tmp = out / "tmp"
    return ["java", *[a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
            f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={out / 'warehouse'}", f"-Dderby.system.home={out}",
            f"-Dperfbench.rgw.delay_us={delay_us}", "-cp", build.classpath(classes),
            "perfbench.Harness"]


def launch_list(classes: Path, path: Path) -> None:
    """Writes `query<TAB>oracle SQL` lines for every query to `path`."""
    subprocess.run(java(classes, path.parent, DELAY_US) + [f"list={path}"], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def launch(classes: Path, out: Path, args: dict, delay_us: int, deadline: float) -> Path:
    """Runs the harness JVM once; returns its result directory."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = java(classes, out, delay_us) + [f"{k}={v}" for k, v in args.items()] + [f"out={out}"]
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness timed out; log in {out / 'jvm.log'}")
    # the run's working data (catalog tables, shuffle files) is not kept
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out / "warehouse", ignore_errors=True)
    if rc != 0:
        tail = (out / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: harness exited with {rc}; log in {out / 'jvm.log'}")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, delay_us: int) -> dict:
    deadline = time.monotonic() + RUN_LIMIT_S
    workloads = load_workloads()
    if workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {workload!r}; have {sorted(workloads)}")
    if not (Path(SF_DIR) / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: no corpus at {SF_DIR} (set PERFBENCH_SF_DIR)")
    expected = load_expected()
    classes = build.build()
    runs = build.build_dir() / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    order = timed_order(workload, workloads[workload], seed, seconds)
    (runs / "order.txt").write_text("\n".join(order) + "\n")
    (runs / "warmup.txt").write_text("\n".join(WARMUP[workload]) + "\n")
    (runs / "workloads.tsv").write_text("".join(
        f"{q}\t{w}\n" for w, qs in workloads.items() for q, _ in qs))
    out = launch(classes, runs / f"{workload}-trace{int(trace)}", {
        "sf": SF_DIR, "cpus": CPUS, "warmup": runs / "warmup.txt",
        "prewarm": int(workload in PREWARM), "workloads": runs / "workloads.tsv",
        "trace": int(trace), "seconds": seconds * RUN_CAP, "order": runs / "order.txt",
    }, delay_us, deadline)
    queries = rollup.read_queries(out)
    summary = rollup.read_summary(out)
    metrics, attempted, failed, problems = rollup.end_to_end(
        queries, summary, expected, dict(workloads[workload]))
    result_units = rollup.END_TO_END_UNITS
    if trace:
        layers = rollup.per_layer(out, queries)
        layers.update({"query_s.samples": attempted, "traced.qps": metrics["qps"],
                       "traced.query_s.p50": metrics["query_s.p50"],
                       "query_s.p90": metrics["query_s.p90"], "ok_frac": metrics["ok_frac"],
                       "peak_rss_mb": metrics["peak_rss_mb"]})
        metrics = layers
        result_units = rollup.PER_LAYER_UNITS
        # rgw-model must be the file system the workload went through
        if metrics["fs.open.calls"] <= 0:
            problems.append("rgw-model saw no open calls: it is not the file system in use")
    for p in problems:
        sys.stderr.write(f"perfbench: {p}\n")
    return {
        "correct": not problems and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in result_units.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rgw-delay-ms", type=float, default=DELAY_US / 1000,
                    help="rgw-model's fixed delay per charged file call")
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric with its unit and exit")
    a = ap.parse_args()
    if a.list_metrics:
        for k, u in {**rollup.END_TO_END_UNITS, **rollup.PER_LAYER_UNITS}.items():
            print(f"{k}\t{u}")
        return
    if not a.workload:
        ap.error("--workload is required")
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), int(round(a.rgw_delay_ms * 1000)))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
