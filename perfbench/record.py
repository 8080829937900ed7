#!/usr/bin/env python3
"""Records the benchmark's committed inputs: workloads.tsv and expected.tsv.

Usage:
  python3 perfbench/record.py classify     # workloads and expected digests
  python3 perfbench/record.py calibrate    # reference costs, for the shards
  python3 perfbench/record.py crosscheck   # results against the DuckDB oracle

classify runs every query twice in one traced JVM (prewarmed, as read-only's
set-up is). A query whose build issues a create, rename, delete or mkdirs
through rgw-model in either run goes to lake-lifecycle, the rest to
read-only. The expected digest is the one both runs produced; a query that
failed in both runs is recorded as a known failure, `error:<exception
class>`.

calibrate runs every shard of every workload CALIBRATE_REPS times (shards of
BENCHMARK.json's run_seconds, each run in its own seeded order), untraced,
each in a fresh JVM with the workload's warm-up as a benchmark run does, and
stores the median of each query's latencies as its reference cost, the cost
the shards are balanced on.

crosscheck runs every query once more, writes each result as parquet, and
compares it with DuckDB running the query's oracle SQL on the same corpus,
using the canonicalisation of tools/local_verify.py; it also checks that the
digests match expected.tsv. An oracle still running after ORACLE_LIMIT_S is
interrupted and reported as unchecked.
"""
import importlib.util
import json
import random
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import rollup  # noqa: E402
import run as bench  # noqa: E402

MUTATING = {"create", "rename", "delete", "mkdirs"}
NO_DEADLINE = 1e9
ORACLE_LIMIT_S = 60
# Runs of each shard in calibrate, each in its own seeded order; a query's
# reference cost is the median of its latencies.
CALIBRATE_REPS = 3


def unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append({"n": "\n", "t": "\t", "\\": "\\"}[s[i + 1]])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def catalog(classes: Path, runs: Path) -> dict:
    """query -> oracle SQL ('' if none), from the harness's list mode."""
    listing = runs / "queries.list"
    bench.launch_list(classes, listing)
    out = {}
    for line in listing.read_text().splitlines():
        name, oracle = line.split("\t")
        out[name] = unescape(oracle)
    return out


def harness(classes: Path, runs: Path, tag: str, order: list, prewarm: bool, trace: bool,
            **extra) -> Path:
    (runs / f"{tag}.order").write_text("\n".join(order) + "\n")
    return bench.launch(classes, runs / tag, {
        "sf": bench.SF_DIR, "cpus": bench.CPUS, "warmup": runs / "empty.txt",
        "prewarm": int(prewarm), "workloads": runs / "all.tsv", "trace": int(trace),
        "seconds": NO_DEADLINE, "order": runs / f"{tag}.order", **extra,
    }, bench.DELAY_US, time.monotonic() + NO_DEADLINE)


def classify(classes: Path, runs: Path, queries: dict) -> None:
    names = sorted(queries)
    out = harness(classes, runs, "classify", names + names, prewarm=True, trace=True)
    recs = rollup.read_queries(out)
    by_seq = {q["seq"]: q for q in recs}
    mutates = set()
    for kind, op, seq, start, _end, _driver, _found in rollup.read_tsv(out / "spans.tsv"):
        q = by_seq.get(int(seq))
        if kind == "fs" and op in MUTATING and q and int(start) <= q["built"]:
            mutates.add(q["name"])
    runs_of = {}
    for q in recs:
        runs_of.setdefault(q["name"], []).append(q)
    old = {q: c for qs in bench.load_workloads().values() for q, c in qs} \
        if (HERE / "workloads.tsv").exists() else {}
    wl_lines, exp_lines = [], []
    for name in names:
        first, second = runs_of[name]
        w = "lake-lifecycle" if name in mutates else "read-only"
        cost = old.get(name, (first["end"] - first["start"]) / 1e9)
        wl_lines.append(f"{name}\t{w}\t{cost:.3f}")
        if first["error"] and second["error"]:
            exp_lines.append(f"{name}\terror:{first['error'].split(':', 1)[0]}")
        elif first["digest"] and first["digest"] == second["digest"]:
            exp_lines.append(f"{name}\t{first['digest']}")
        else:
            raise SystemExit(f"record: {name} is not deterministic: "
                             f"{first['digest'] or first['error']} vs "
                             f"{second['digest'] or second['error']}")
    header = "# query\tworkload\treference cost (s); written by record.py\n"
    (HERE / "workloads.tsv").write_text(header + "\n".join(wl_lines) + "\n")
    (HERE / "expected.tsv").write_text(
        "# query\tdigest (rows:xxh64 sum) or error:<class>; written by record.py\n"
        + "\n".join(exp_lines) + "\n")
    for w in ("read-only", "lake-lifecycle"):
        print(w, sum(1 for line in wl_lines if line.split("\t")[1] == w))


def calibrate(classes: Path, runs: Path, queries: dict) -> None:
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    workloads = bench.load_workloads()
    samples = {}
    for w, qs in workloads.items():
        k = bench.shard_count(qs, seconds)
        warmup = runs / f"warmup-{w}.txt"
        warmup.write_text("\n".join(bench.WARMUP[w]) + "\n")
        for i, shard in enumerate(bench.shards(qs, k)):
            for rep in range(CALIBRATE_REPS):
                order = [q for q, _ in shard]
                random.Random(f"calibrate/{w}/{i}/{rep}").shuffle(order)
                out = harness(classes, runs, f"calibrate-{w}-{i}", order,
                              prewarm=w in bench.PREWARM, trace=False, warmup=warmup)
                for q in rollup.read_queries(out):
                    if q["phase"] == "timed":
                        samples.setdefault(q["name"], []).append((q["end"] - q["start"]) / 1e9)
            print(w, i, len(shard), round(sum(statistics.median(samples[q]) for q, _ in shard), 1))
    measured = {q: statistics.median(v) for q, v in samples.items()}
    lines = [line for line in (HERE / "workloads.tsv").read_text().splitlines()]
    out = []
    for line in lines:
        if line.startswith("#"):
            out.append(line)
            continue
        q, w, _ = line.split("\t")
        out.append(f"{q}\t{w}\t{measured[q]:.3f}")
    (HERE / "workloads.tsv").write_text("\n".join(out) + "\n")


def crosscheck(classes: Path, runs: Path, queries: dict) -> None:
    dump = runs / "dump"
    out = harness(classes, runs, "crosscheck", sorted(queries), prewarm=True, trace=False,
                  dump=dump)
    sys.exit(1 if compare_with_duckdb(out, dump, queries) else 0)


def compare_with_duckdb(out: Path, dump: Path, queries: dict) -> list:
    """Checks each dumped result's digest and compares it with DuckDB; returns the problems.

    An oracle that runs past ORACLE_LIMIT_S is interrupted and reported as
    unchecked, not as a mismatch.
    """
    spec = importlib.util.spec_from_file_location(
        "local_verify", HERE.parent / "tools" / "local_verify.py")
    lv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lv)
    import duckdb

    expected = bench.load_expected()
    con = duckdb.connect()
    for t in lv.TABLES:
        p = Path(bench.SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_oracle = n_rows_only = 0
    bad, unchecked = [], []
    for q in rollup.read_queries(out):
        verdict = rollup.check(q, expected)
        if verdict not in ("ok", "known"):
            bad.append(f"{q['name']}: {verdict}")
        if q["error"]:
            continue
        oracle = queries[q["name"]]
        if not oracle:
            n_rows_only += 1
            continue
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            duck_df = con.sql(oracle).df()
        except duckdb.InterruptException:
            unchecked.append(q["name"])
            print(f"[unchecked] {q['name']}: oracle ran past {ORACLE_LIMIT_S} s", flush=True)
            continue
        finally:
            timer.cancel()
        spark_df = con.sql(f"SELECT * FROM read_parquet('{dump / q['name']}/*.parquet')").df()
        problems = lv.compare(q["name"], spark_df, duck_df)
        if problems:
            bad.append(f"{q['name']}: oracle mismatch: {problems[0]}")
        else:
            n_oracle += 1
        print(f"[{'FAIL' if problems else 'pass'}] {q['name']}", flush=True)
    for b in bad:
        print(b)
    print(f"== {n_oracle} match DuckDB, {n_rows_only} have no oracle, "
          f"{len(unchecked)} unchecked, {len(bad)} problems")
    return bad


def main() -> None:
    if len(sys.argv) != 2 or sys.argv[1] not in ("classify", "calibrate", "crosscheck"):
        raise SystemExit(__doc__)
    classes = build.build()
    runs = build.build_dir() / "record"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / "empty.txt").write_text("")
    queries = catalog(classes, runs)
    # one workload holding every query passes the harness's coverage check
    (runs / "all.tsv").write_text("".join(f"{q}\tall\n" for q in sorted(queries)))
    {"classify": classify, "calibrate": calibrate, "crosscheck": crosscheck}[sys.argv[1]](
        classes, runs, queries)


if __name__ == "__main__":
    main()
