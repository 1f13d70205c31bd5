"""Workload inputs and metrics of the graft benchmark (see README.md).

`prepare` makes a workload's inputs from the seed; `compute` turns the
JVM's raw result into the report, the end-to-end metrics and the
per-layer metrics."""
import glob
import json
import os
import random
import statistics

import benchlib as B

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected")
ADHOC_SHARE = 0.03           # share of SparkEntry keys sampled per adhoc run
ADHOC_MEMOS = ["lsh-index"]
# keys reading these memos are left out of adhoc: building them takes
# 2-14 s per set-up (the pair tables are dedup's)
ADHOC_EXCLUDED_MEMOS = {"edge-pairs", "edge-labels", "term-index", "media"}
ADHOC_MAX_PCT = 75          # keys slower than this percentile are left out
DEDUP_KEEP_EVERY = 2        # seed != 0 keeps every second sf0.1 document
DEDUP_INJECT_SHARE = 0.04   # near-duplicates injected per kept document, seed != 0
WORKLOADS = ("listen", "adhoc", "dedup")
DEFAULT_DATA = os.path.expanduser(os.path.join("~", "testdata", "sf0.1"))


def data_dir():
    d = os.environ.get("GRAFT_BENCH_DATA", DEFAULT_DATA)
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        raise SystemExit(f"perfbench: no sf0.1 testdata at {d} (set GRAFT_BENCH_DATA)")
    return d


def load_keys():
    """perfbench/expected/keys.tsv: key, reference seconds, rows,
    digest, memo tags, check status (see make_expected.py)."""
    keys = {}
    with open(os.path.join(EXPECTED, "keys.tsv")) as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            k, ref, rows, dig, tags, status = line.rstrip("\n").split("\t")
            keys[k] = {"ref_s": float(ref), "rows": int(rows), "digest": dig,
                       "tags": [t for t in tags.split(",") if t], "status": status}
    return keys


def adhoc_pool(keys):
    """Keys an adhoc run may sample: outputs checked (oracle) or pinned
    (omit), none of the excluded memos, and a reference time within the
    ADHOC_MAX_PCT percentile of all keys — the slowest keys are operator
    work, not fixed cost, and one of them would set a run's throughput."""
    cap = B.percentile([v["ref_s"] for v in keys.values()], ADHOC_MAX_PCT)
    return {k: v["ref_s"] for k, v in keys.items()
            if v["status"] in ("oracle", "omit") and v["ref_s"] <= cap
            and not ADHOC_EXCLUDED_MEMOS.intersection(v["tags"])}


def prepare(workload, seed, workdir):
    if workload == "listen":
        return {}
    d = data_dir()
    if workload == "adhoc":
        sample = B.stratified_sample(adhoc_pool(load_keys()), ADHOC_SHARE, seed)
        path = os.path.join(workdir, "keys.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(sample) + "\n")
        return {"data": d, "keys": path, "memos": ",".join(ADHOC_MEMOS)}
    out, docs = inject_near_dups(d, seed, workdir)
    return {"data": d, "dedup_data": out, "docs": docs}


def inject_near_dups(src, seed, workdir):
    """Every second sf0.1 document plus a seeded share of near-duplicates:
    copies of kept documents with a few tokens dropped or swapped. Seed 0
    is the testdata as is. The kept half is the same for every seed, so
    runs differ only in what the injected duplicates share."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = os.path.join(workdir, "dedup-data")
    os.makedirs(out)
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    if seed != 0:
        rng = random.Random(seed)
        rows = t.to_pylist()[::DEDUP_KEEP_EVERY]
        next_id = max(r["doc_id"] for r in rows) + 1
        extra = []
        for _ in range(round(DEDUP_INJECT_SHARE * len(rows))):
            base = rows[rng.randrange(len(rows))]
            toks = base["text"].split(" ")
            for _ in range(rng.randint(1, 3)):
                i = rng.randrange(len(toks))
                if rng.random() < 0.5 and len(toks) > 2:
                    del toks[i]
                else:
                    toks[i] = toks[rng.randrange(len(toks))]
            text = " ".join(toks)
            extra.append(dict(base, doc_id=next_id, text=text, n_chars=len(text)))
            next_id += 1
        t = pa.Table.from_pylist(rows + extra, schema=t.schema)
    pq.write_table(t, os.path.join(out, "documents.parquet"))
    return out, t.num_rows


# ---------------------------------------------------------------- metrics

def _setup_s(raw):
    """Median of the run's set-ups: session, warm-up and, in adhoc, the
    memo builds. JVM start-up is reported apart (jvm_start_s): it is
    not the engine's and swings by a factor of three between runs."""
    if not raw.get("setup_reps_s"):
        return None
    return statistics.median(raw["setup_reps_s"])


def _common_report(raw, kv):
    meta = dict(raw["meta"])
    meta["seed"] = kv["seed"]
    meta["git_commit"] = git_commit()
    meta["source_hash"] = os.path.basename(kv["classes"]).split("-", 1)[1]
    return {"meta": meta, "setup_s": _setup_s(raw), "setup_reps_s": raw.get("setup_reps_s"),
            "jvm_start_s": raw.get("jvm_to_main_s"),
            "peak_rss_mb": raw["peak_rss_mb"]}


def git_commit():
    """The checkout's commit, or "unknown" outside a git repository
    (the report's source_hash identifies the sources either way)."""
    import subprocess
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def compute(workload, raw, kv):
    report = _common_report(raw, kv)
    e2e, layers = {}, {}
    raw["docs"], raw["seed"] = kv.get("docs"), kv["seed"]
    fn = {"listen": _listen, "adhoc": _adhoc, "dedup": _dedup}[workload]
    fn(raw, report, e2e, layers)
    report["attempted"] = raw["attempted"]
    report["failed"] = raw["failed"]
    report["failed_share"] = raw["failed"] / max(1, raw["attempted"])
    report["failures"] = raw["failures"]
    report["e2e"] = e2e
    if report["setup_s"] is not None:
        e2e["setup_s"] = (report["setup_s"], "s")
    e2e["peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    full = {name: (0.0, unit) for name, unit in per_layer_names()}
    full.update(layers)
    if raw.get("spans"):
        _scheduler(raw, workload, full)
        _setup_layers(raw, full)
    return report, e2e, full


def _listen(raw, report, e2e, layers):
    bf, live = raw.get("backfill"), raw.get("live")
    if bf:
        eps = bf["events"] / bf["wall_s"]
        report["listen_backfill_eps"] = eps
        report["backfill"] = {k: bf[k] for k in ("events", "wall_s", "batches", "blocks")}
        e2e["throughput_per_s"] = (eps, "1/s")
    prog = B.measured(live) if live else []
    if live and not prog and not any(f["name"] == "live" for f in raw["failures"]):
        _wrong(raw, "live", "no measured block was committed")
    if prog:
        lat = B.summary(B.event_latencies(live), 99)
        report["listen_latency_ms"] = dict(lat, batches=len(prog))
        report["listen_state_stores"] = prog[-1].get("state_parts")
        e2e["latency_ms"] = (lat["p50"], "ms")
        series = B.backlog_series(live)

        def dur(k):
            return B.median([p["durations"].get(k, 0) for p in prog])
        layers.update({
            "listen.backlog_max_blocks": (float(max(series)), "blocks"),
            "listen.backlog_growth_blocks": (B.backlog_growth(series), "blocks"),
            "listen.latestOffset_ms": (dur("latestOffset"), "ms"),
            "listen.getBatch_ms": (dur("getBatch"), "ms"),
            "listen.serve_wait_ms": (live["serve_wait_ms"], "ms"),
            "listen.gen_late_ms": (live["gen_late_max_ms"], "ms"),
            "listen.batches": (float(len(prog)), "count"),
            "listen.trigger_ms_p50": (dur("triggerExecution"), "ms"),
            "listen.queryPlanning_ms": (dur("queryPlanning"), "ms"),
            "listen.addBatch_ms": (dur("addBatch"), "ms"),
            "listen.walCommit_ms": (dur("walCommit"), "ms"),
            "listen.commitOffsets_ms": (dur("commitOffsets"), "ms"),
            "listen.state_rows": (float(prog[-1]["state_rows"]), "count"),
            "listen.state_mb": (prog[-1]["state_bytes"] / 2**20, "MB"),
            "listen.state_commit_ms": (B.median([p["state_commit_ms"] for p in prog]), "ms"),
        })
        if raw.get("spans"):
            spans = raw["spans"]
            tasks = B.rollup(spans, {live["span"]}, "tasks")
            layers["listen.tasks_per_batch"] = (tasks / max(1, len(prog)), "count")
    if "sink_files" in raw:
        layers["listen.sink_files"] = (float(raw["sink_files"]), "count")
        layers["listen.sink_bytes_per_event"] = (
            raw["sink_bytes"] / max(1, raw["check"]["sink_rows"]), "B")
    one = raw.get("backfill_1core")
    if one:
        layers["listen.backfill_eps_1core"] = (one["events"] / one["wall_s"], "1/s")


def _adhoc(raw, report, e2e, layers):
    expected = load_keys()
    good = []
    for r in raw.get("keys", []):
        if not r["ok"]:
            continue
        want = expected.get(r["key"], {}).get("digest")
        if r["digest"] != want:
            _wrong(raw, r["key"], f"digest {r['digest']} != expected {want}")
            r["ok"] = False
            continue
        good.append(r)
    report["adhoc_sample"] = [r["key"] for r in raw.get("keys", [])]
    times = [r["total_s"] for r in good]
    if times:
        kps = len(good) / raw["wall_s"]
        report["adhoc_key_s"] = dict(B.summary(times, 90), p90=B.percentile(times, 90))
        report["adhoc_keys_per_s"] = kps
        # the mean, not the median: the sample's middle keys pay different
        # first-use costs (JIT, codegen, private memos), which moved the
        # median of 20 keys by 23 % between seeds and the mean by 12 %
        e2e["latency_ms"] = (raw["wall_s"] * 1000.0 / len(good), "ms")
        e2e["throughput_per_s"] = (kps, "1/s")
    layers.update({
        "adhoc.stream_keys_s": (sum(r["total_s"] for r in good if r["key"].startswith("s_")), "s"),
        "adhoc.build_s": (sum(r["build_s"] for r in good), "s"),
        "adhoc.plan_s": (sum(r["plan_s"] for r in good), "s"),
        "adhoc.exec_s": (sum(r["exec_s"] for r in good), "s"),
        "adhoc.codegen_ms": (raw["codegen"]["ms"], "ms"),
    })
    spans = raw.get("spans")
    if spans:
        per_key = [B.subtree(spans, r["span"]) for r in good]
        jobs = [B.rollup(spans, ids, "jobs") for ids in per_key]
        allids = set().union(*per_key) if per_key else set()
        layers.update({
            "adhoc.jobs": (sum(jobs), "count"),
            "adhoc.jobs_per_key_p50": (B.median(jobs) or 0.0, "count"),
            "adhoc.checkpoint_jobs": (B.rollup(spans, allids, "checkpoint_jobs"), "count"),
            "adhoc.count_jobs": (B.rollup(spans, allids, "count_jobs"), "count"),
            "adhoc.stages": (B.rollup(spans, allids, "stages"), "count"),
            "adhoc.tasks": (B.rollup(spans, allids, "tasks"), "count"),
            "adhoc.scan_mb": (B.rollup(spans, allids, "scan_bytes") / 2**20, "MB"),
        })


def _wrong(raw, name, detail):
    raw["failed"] += 1
    raw["failures"].append({"name": name, "error": "wrong output: " + detail})


def _dedup(raw, report, e2e, layers):
    steps = {s["step"]: s for s in raw.get("steps", [])}
    ok = [s for s in steps.values() if not s.get("failed")]
    if raw["seed"] == 0:
        expected = load_keys()
        for s in ok:
            if "digest" in s and s["digest"] != expected[s["step"]]["digest"]:
                _wrong(raw, s["step"], f"digest {s['digest']} != oracle-checked "
                       f"{expected[s['step']]['digest']}")
    report["dedup_s"] = raw.get("dedup_s")
    report["dedup_steps_s"] = {s["step"]: s.get("secs") for s in steps.values()}
    report["dedup_docs"] = raw.get("docs")
    report["pairs_rows"] = raw.get("pairs_rows")
    report["components"] = raw.get("components")
    if ok and len(ok) == len(steps):
        # one cold chain is the run's one operation
        e2e["latency_ms"] = (raw["dedup_s"] * 1000.0, "ms")
        e2e["throughput_per_s"] = (raw["docs"] / raw["dedup_s"], "1/s")

    def step_s(prefix):
        return sum(s["secs"] for s in ok if s["step"].startswith(prefix))
    layers.update({
        "dedup.sigs_s": (step_s("sigs"), "s"),
        "dedup.bands_s": (step_s("bands"), "s"),
        "dedup.pairs_s": (step_s("pairs-"), "s"),
        "dedup.pairs_rows": (float(sum((raw.get("pairs_rows") or {}).values())), "count"),
        "dedup.cc_s": (step_s("components"), "s"),
        "dedup.labelprop_s": (step_s("labelprop"), "s"),
        "dedup.consumers_s": (step_s("q_"), "s"),
    })
    spans = raw.get("spans")
    if spans:
        ids = set().union(*(B.subtree(spans, s["id"]) for s in spans if s["name"] == "dedup"))
        cc = [s["id"] for s in spans if s["name"] == "components"]
        layers["dedup.cc_jobs"] = (B.rollup(spans, B.subtree(spans, cc[0]) if cc else set(),
                                            "jobs"), "count")
        layers["dedup.scan_mb"] = (B.rollup(spans, ids, "scan_bytes") / 2**20, "MB")
        stages = [st for st in raw.get("stages", []) if st["group"].isdigit()
                  and int(st["group"]) in ids and st["tasks"] > 0]
        if stages:
            slow = max(stages, key=lambda st: st["wall_ms"])
            layers["dedup.straggler_ratio"] = (slow["max_ms"] / max(1.0, slow["median_ms"]),
                                               "ratio")


def _scheduler(raw, workload, out):
    """Scheduler totals over the workload's span tree."""
    spans = raw["spans"]
    roots = [s for s in spans if s["name"] == workload]
    if not roots:
        return
    root = roots[0]
    ids = B.subtree(spans, root["id"])
    wall_s = (root["end_ms"] - root["start_ms"]) / 1000.0
    task_s = B.rollup(spans, ids, "task_ms") / 1000.0
    cores = raw["meta"]["nproc"]
    out[f"{workload}.task_s"] = (task_s, "s")
    out[f"{workload}.busy_share"] = (task_s / max(1e-9, wall_s * cores), "ratio")
    out[f"{workload}.shuffle_write_mb"] = (B.rollup(spans, ids, "shuffle_write_bytes") / 2**20, "MB")
    out[f"{workload}.spill_mb"] = (B.rollup(spans, ids, "spill_bytes") / 2**20, "MB")
    out[f"{workload}.gc_s"] = (B.rollup(spans, ids, "gc_ms") / 1000.0, "s")


def _setup_layers(raw, out):
    if raw.get("warm_s"):
        out["setup.warm_s"] = (statistics.median(raw["warm_s"]), "s")
    for tag, secs in raw.get("memo_s", {}).items():
        out[f"setup.memo_s.{tag}"] = (statistics.median(secs), "s")


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def write_spans(raw, path):
    with open(path, "w") as fh:
        for s in raw["spans"]:
            s = dict(s, self_ms=B.self_ms(s, raw["spans"]))
            fh.write(json.dumps(s) + "\n")


def overhead(results_dir, workload, seed, traced_e2e):
    """Traced minus untraced end-to-end values, against the latest
    untraced result of the same workload and seed in .bench_build."""
    cands = sorted(glob.glob(os.path.join(results_dir, f"{workload}-s{seed}-t0-*.json")),
                   key=os.path.getmtime)
    if not cands:
        return "no untraced run of this workload and seed to compare with"
    with open(cands[-1]) as fh:
        base = json.load(fh)["report"]["e2e"]
    return {k: {"traced": v[0], "untraced": base[k][0],
                "share": (v[0] - base[k][0]) / base[k][0] if base[k][0] else None}
            for k, v in traced_e2e.items() if k in base}
