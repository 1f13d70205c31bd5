#!/usr/bin/env python3
"""Regenerates perfbench/expected/keys.tsv: the reference time, memo tags
and expected digest of every SparkEntry key at sf0.1.

    python3 perfbench/make_expected.py [--data DIR]

Run from the root of a graft checkout, at the commit whose outputs the
benchmark should expect. Steps:
 1. a sweep of every key at local[nproc] records its digest, writes its
    result as parquet and the key's oracle SQL;
 2. tools/compare.py (read-only) checks each written result against
    the DuckDB oracle, one key at a time for at most ORACLE_TIMEOUT_S
    (status `oracle-timeout` past it); the digest of the re-read
    parquet must equal the direct digest, so the pinned digest is the
    oracle-checked rows;
 3. a second sweep at local[2] must reproduce every digest.
Keys without oracle SQL (OMIT) are pinned as this commit computes them.
Keys reading a memo that adhoc leaves out (metrics.ADHOC_EXCLUDED_MEMOS)
are never sampled and stay `unchecked`, except dedup's consumer keys.
The status column says which check each key passed; only `oracle` and
`omit` keys are sampled by the adhoc workload.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_TIMEOUT_S = 600
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


def sweep(classes, jars, data, cpus, work, dump=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tsv = os.path.join(work, "sweep.tsv")
    kv = {"workload": "sweep", "cpus": cpus, "data": data, "work": work,
          "out": os.path.join(work, "raw.json"), "tsv": tsv}
    if dump:
        kv["dump"] = dump
    run.JVM_TIMEOUT_S = 6 * 3600
    rc = run.jvm(classes, jars, work, kv)
    if rc != 0:
        sys.exit(f"sweep failed (exit {rc}); see {work}/jvm.log")
    return read_sweep(tsv)


def read_sweep(tsv):
    rows = {}
    with open(tsv) as fh:
        for line in fh:
            key, secs, n, dig, tags, pq_dig = line.rstrip("\n").split("\t")
            rows[key] = (secs, n, dig, tags, pq_dig)
    return rows


def oracle_verdicts(data, dump, keys):
    """tools/compare.py's verdict per key: PASS, VALS, ROWS, ..., or
    TIMEOUT when DuckDB does not finish the key's oracle within
    ORACLE_TIMEOUT_S (a few oracles take longer than all others
    together). dedup's consumer keys have no limit: dedup relies on
    their digests being oracle-checked."""
    verdict = {}
    for key in sorted(keys):
        limit = None if key in DEDUP_CONSUMERS else ORACLE_TIMEOUT_S
        try:
            r = subprocess.run([sys.executable, os.path.join("tools", "compare.py"), data,
                                dump, key], capture_output=True, text=True, timeout=limit)
            for line in r.stdout.splitlines():
                m = re.match(r"^([A-Z]+)\s+(\S+?):?\s", line)
                if m:
                    verdict[m.group(2)] = m.group(1)
        except subprocess.TimeoutExpired:
            verdict[key] = "TIMEOUT"
        print(f"[oracle] {verdict.get(key, 'NONE'):8s} {key}", file=sys.stderr, flush=True)
    return verdict


def status(key, first, verdict, second, oracle_keys, checked):
    secs, n, dig, tags, pq_dig = first[key]
    if dig == "FAILED":
        return "failed"
    if second.get(key, (None,) * 5)[2] != dig:
        return "unstable"
    if key not in oracle_keys:
        return "omit"
    if key not in checked:
        return "unchecked"
    if verdict.get(key) != "PASS":
        return "oracle-" + verdict.get(key, "unchecked").lower()
    return "oracle" if pq_dig == dig else "roundtrip"


def write(first, verdict, second, oracle_keys, checked):
    out = os.path.join(HERE, "expected", "keys.tsv")
    with open(out, "w") as fh:
        fh.write("# key\tref_s\trows\tdigest\tmemo_tags\tstatus\n")
        for key in sorted(first):
            secs, n, dig, tags, _ = first[key]
            st = status(key, first, verdict, second, oracle_keys, checked)
            fh.write(f"{key}\t{secs}\t{n}\t{dig}\t{tags}\t{st}\n")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=os.environ.get("GRAFT_BENCH_DATA", metrics.DEFAULT_DATA))
    ap.add_argument("--work", default=os.path.join(".bench_build", "expected"))
    a = ap.parse_args()
    jars = run.spark_jars()
    classes, _ = run.build(os.getcwd(), jars)
    work = os.path.abspath(a.work)
    shutil.rmtree(work, ignore_errors=True)
    dump = os.path.join(work, "dump")
    first = sweep(classes, jars, a.data, os.cpu_count(), os.path.join(work, "1"), dump)
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle_keys = set(json.load(fh))
    # keys reading the excluded memos are never sampled; among them are
    # the near-dup pair consumers, whose DuckDB oracles are quadratic CTEs
    # that take far longer than the rest together. dedup's consumer keys
    # are checked all the same: dedup compares their digests on seed 0
    no_excluded_memo = {k for k, v in first.items()
               if not metrics.ADHOC_EXCLUDED_MEMOS.intersection(v[3].split(","))}
    wanted = (no_excluded_memo | set(DEDUP_CONSUMERS)) & oracle_keys
    verdict = oracle_verdicts(a.data, dump, wanted)
    second = sweep(classes, jars, a.data, 2, os.path.join(work, "2"))
    print("wrote", write(first, verdict, second, oracle_keys, wanted))


DEDUP_CONSUMERS = ["q_dedup_lsh_resolve", "q_dedup_components", "q_dup_cluster_sizes",
                   "q_dedup_keep_best", "q_near_dup_rate"]

if __name__ == "__main__":
    main()
