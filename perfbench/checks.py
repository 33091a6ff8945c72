"""Output checks of the benchmark command.

Queries: each dump is reduced to the hash of its canonical form — columns
sorted by name, rows sorted, pandas' dtype-sensitive row hash summed (the
same canonical form as the repository's correctness gate,
tools/gate_common.py) — and compared with `expected_queries.json`, made
once by make_expected.py: DuckDB over the oracle SQL for every query that
has one, the seed commit's own output for the four that have none. A
query that throws fails the check; a query cut at its wall budget is a
failed op but not a failed check.

Producer: for every catch-up round, the decoded sink's per-quarter row
counts (one quarter per file) and canonical-row checksum are compared with
what the generator wrote for the files that round was given; a file listed
under two micro-batches in the checkpoint's source log is a duplicate
delivery.
"""
import glob
import json
import math
import statistics

import pandas as pd


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df):
    return str(int(pd.util.hash_pandas_object(norm(df), index=False).sum()))


def dump_hash(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return frame_hash(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def quantile(xs, q):
    """Linear-interpolated quantile, numpy's default method."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def common_summary(record):
    m = record["metrics"]
    return {"setup_s": m["setup_s"], "heap_peak_mb": m["heap_peak_mb"],
            "steal_cpus": record["steal_cpus"]}


def queries(record, dumps, expected_path):
    expected = json.load(open(expected_path))
    problems, failed = [], 0
    for op in record["ops"]:
        name = op["name"]
        if op["status"] == "budget":  # cut at its budget: a failed op, no output to check
            failed += 1
            continue
        if op["status"] != "ok":  # a query that throws has no correct output
            failed += 1
            problems.append(f"{name}: {op['status']}: {op['error']}")
            continue
        try:
            got = dump_hash(f"{dumps}/{name}")
        except Exception as e:  # unreadable dump is a failed check
            got = f"error: {type(e).__name__}: {e}"
        want = expected.get(name, {}).get("hash")
        if got != want:
            failed += 1
            problems.append(f"{name}: output hash {got} != expected {want}")
    approx = record["extra"].get("approx_bounds")
    if approx is not None and not approx.get("ok"):
        problems.append(f"approximate-aggregate bounds violated: {approx}")
    walls = [op["wall_s"] for op in record["ops"]]
    attempted = len(record["ops"])
    summary = {
        **common_summary(record),
        "queries_wall_s": sum(walls),
        "query_p50_s": statistics.median(walls),
        "query_geomean_s": geomean(walls),
        "query_p90_s": quantile(walls, 0.9),
        "failed_share": failed / attempted,
        "not_ok": {op["name"]: op["status"] for op in record["ops"] if op["status"] != "ok"},
        "budget_s": record["extra"].get("budget_s"),
    }
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "summary": summary}


def producer(record, expected):
    """Each round's sink against the files it was given; an op is a file
    delivery, failed if lost, duplicated or in a failed micro-batch."""
    ex = record["extra"]
    files = expected["files"]
    problems, failed, attempted = [], 0, 0
    for r, rnd in enumerate(ex["rounds"], 1):
        got = {(y, t): n for y, t, n in rnd["sink_counts"]}
        bad = set(rnd["duplicates"])
        for name in rnd["files"]:
            f = files[name]
            n = got.pop((f["ano"], f["trimestre"]), 0)
            if n != f["rows"]:
                bad.add(name)
                kind = "lost" if n < f["rows"] else "duplicated"
                problems.append(f"round {r} {name}: {kind} ({n} rows delivered, {f['rows']} written)")
        for name in rnd["duplicates"]:
            problems.append(f"round {r} {name}: taken by more than one micro-batch")
        for key, n in got.items():
            problems.append(f"round {r}: sink holds {n} rows of a quarter no file carries: {key}")
        want = str(sum(int(files[n]["checksum"]) for n in rnd["files"]))
        if rnd["sink_checksum"] != want:
            problems.append(f"round {r}: sink checksum {rnd['sink_checksum']} != generated {want}")
        if rnd["error"]:
            problems.append(f"round {r}: {rnd['error']}")
        attempted += len(rnd["files"])
        failed += len(bad)
    lat = [op["latency_s"] for op in record["ops"] if op["latency_s"] is not None]
    summary = {
        **common_summary(record),
        "producer_rows_per_s": ex["rows_per_s"],
        "producer_mb_per_s": ex["mb_per_s"],
        "catch_up_s": [rnd["catch_up_s"] for rnd in ex["rounds"]],
        "tail_latency_p50_s": statistics.median(lat) if lat else None,
        "tail_latency_geomean_s": geomean(lat) if lat else None,
        "tail_latency_p90_s": quantile(lat, 0.9) if lat else None,
        "tail_samples": len(lat),
        "failed_share": failed / attempted,
        "generator_late_ms_max": ex["generator_late_ms_max"],
    }
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "summary": summary}
