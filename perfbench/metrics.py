"""Metric math for the graft benchmark: raw phase records in, metrics out.

A phase record is what `graftbench.Main` writes for one measurement phase:
`window` [start, end] in epoch ms, `ops` (every attempted operation with its
kind, start, end and verdict), `spans` (traced phases only), `samples`
(counts measured at layer boundaries) and `errors`.
"""

import statistics

# Each workload's `latency_ms` samples one kind of operation: generations
# (lookup), commits (churn) or query batches (curation). Its
# `throughput_per_s` counts the same operations from the window's start to
# the last one's end, so it does not jump by whole operations; curation
# divides documents by the busy time of each complete pipeline pass.
COMMIT_KINDS = {"append", "upsert_mor", "delete_mor", "upsert_cow", "compact"}

# Tracks whose timeline the trace must account for, per workload.
TRACKS = {"lookup": ["stream", "writer"], "churn": ["main"], "curation": ["main"]}

LAYERS = ["bench", "VersionedTable", "RefTableMutations", "SnapshotFiles",
          "RefTableMicroBatchStream", "RefTableReader", "operators", "spark"]

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest percentile with at least 10 samples beyond it.

    Returns (percentile, value, sample count). Below 20 samples not even the
    median has 10 beyond it; the median is reported and the count says so.
    """
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) >= 1000.0 - 1e-6:  # n * (1 - p/100) >= 10, rounding-safe
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(interval, lo, hi):
    a, b = max(interval[0], lo), min(interval[1], hi)
    return (a, b) if b > a else None


def covered(interval, others):
    """How much of `interval` the `others` cover."""
    parts = [c for c in (clip(o, interval[0], interval[1]) for o in others) if c]
    return union_length(parts)


def assign_parents(spans):
    """Parents spans recorded without one (Spark jobs) to the innermost span
    on the same track whose interval contains their start. Returns a new list.
    """
    out = [dict(s) for s in spans]
    for s in out:
        if s["parent"] != -1 or s["name"] != "job":
            continue
        best = None
        for c in out:
            if (c is s or c["track"] != s["track"] or c["name"] == "job" or c["layer"] == "wait"
                    or not c["t0"] <= s["t0"] <= c["t1"]):
                continue
            if best is None or c["t0"] >= best["t0"]:
                best = c
        if best is not None:
            s["parent"] = best["id"]
    return out


def self_times(spans):
    """Self time per span id: its duration minus what its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered((s["t0"], s["t1"]), children.get(s["id"], []))
            for s in spans}


def add_stream_waits(spans, window):
    """The stream waits for the next refresh boundary between triggers; makes
    those gaps explicit `wait` spans on the stream track inside the window.
    """
    triggers = sorted((s for s in spans if s["name"] == "trigger"), key=lambda s: s["t0"])
    waits, cursor, next_id = [], window[0], max([s["id"] for s in spans] + [0]) + 1
    for t in triggers + [{"t0": window[1], "t1": window[1]}]:
        gap = clip((cursor, t["t0"]), window[0], window[1])
        if gap:
            waits.append({"id": next_id, "parent": -1, "op": -1, "name": "wait", "layer": "wait",
                          "track": "stream", "t0": gap[0], "t1": gap[1]})
            next_id += 1
        cursor = max(cursor, t["t1"])
    return spans + waits


def driver_gap_ms(spans):
    """Top-level wall time on each track covered by no Spark job (as JobProf
    computes it): planning, listing and commit-protocol work on the driver.
    """
    jobs = {}
    for s in spans:
        if s["name"] == "job":
            jobs.setdefault(s["track"], []).append((s["t0"], s["t1"]))
    gap = 0.0
    for s in spans:
        if s["parent"] == -1 and s["layer"] not in ("wait", "spark"):
            gap += (s["t1"] - s["t0"]) - covered((s["t0"], s["t1"]), jobs.get(s["track"], []))
    return gap


def coverage(spans, tracks, window):
    """Lowest share, over `tracks`, of the window that top-level spans cover."""
    length = window[1] - window[0]
    shares = []
    for track in tracks:
        parts = [c for c in (clip((s["t0"], s["t1"]), *window) for s in spans
                             if s["track"] == track and s["parent"] == -1) if c]
        shares.append(union_length(parts) / length)
    return min(shares)


def generations(ops, window):
    """Refresh lags (boundary -> sink committed) of the correct generations
    whose boundary lies in the window, and generation coverage: generations
    emitted over refresh boundaries crossed.
    """
    gens = [o for o in ops if o["k"] == "generation" and window[0] <= o["t0"] < window[1]]
    if not gens:
        return [], 0.0
    lags = [o["t1"] - o["t0"] for o in gens if o["ok"]]
    boundaries = int(round((window[1] - window[0]) / gens[0]["interval_ms"]))
    emitted = len({o["gen"] for o in gens})
    return lags, emitted / boundaries


def _samples(phase, name):
    return [s["v"] for s in phase["samples"] if s["name"] == name]


def _durations(phase, kinds):
    return [o["t1"] - o["t0"] for o in phase["ops"] if o["k"] in kinds and o["ok"]]


def _median(values):
    return statistics.median(values) if values else 0.0


def _ratio(num, den):
    return num / den if den else 0.0


def end_to_end(workload, phase):
    """The workload's end-to-end metrics plus their definitions' named forms
    (for the human report), from one untraced or traced phase.
    """
    window = phase["window"]
    ops = phase["ops"]
    named = {}
    if workload == "lookup":
        lat, cov = generations(ops, window)
        done = [o["t1"] for o in ops
                if o["k"] == "generation" and o["ok"] and window[0] <= o["t0"] < window[1]]
        per_s = len(done) * 1000.0 / (max(done) - window[0]) if done else 0.0
        named["generation_coverage"] = (cov, "ratio")
    elif workload == "churn":
        lat = _durations(phase, COMMIT_KINDS)
        commits = [o["t1"] for o in ops if o["k"] in COMMIT_KINDS and o["ok"]]
        per_s = len(commits) * 1000.0 / (max(commits) - window[0]) if commits else 0.0
        reads = _durations(phase, {"read"})
        if reads:
            named["read_ms.p50"] = (percentile(reads, 50), "ms")
            p, v, n = tail(reads)
            named["read_ms.p%g" % p] = (v, "ms")
    else:
        lat = _durations(phase, {"topk"})
        rates = [o["docs"] * 1000.0 / o["busy"] for o in ops if o["k"] == "pipeline" and o["ok"]]
        per_s = _median(rates)
    if not lat:
        raise ValueError("no successful %s operations in the window" % workload)
    p, v, n = tail(lat)
    metrics = {
        "latency_ms.p50": (percentile(lat, 50), "ms"),
        "latency_ms.tail": (v, "ms"),
        "throughput_per_s": (per_s, "1/s"),
    }
    named["latency_samples"] = (n, "count")
    named["latency_tail_percentile"] = (p, "pct")
    return metrics, named


def per_layer(workload, phase):
    """Per-layer metrics from a traced phase. Layers idle in this workload
    report 0.
    """
    window = tuple(phase["window"])
    spans = assign_parents(phase["spans"])
    if workload == "lookup":
        spans = add_stream_waits(spans, window)
    in_window = [s for s in spans if s["t1"] > window[0] and s["t0"] < window[1]]
    selfs = self_times(in_window)
    m = {}

    def durs(kind):
        return _durations(phase, {kind})

    def p50(values):
        return percentile(values, 50) if values else 0.0

    m["VersionedTable.publish_ms.p50"] = p50(durs("append"))
    m["VersionedTable.compact_ms.p50"] = p50(durs("compact"))
    m["VersionedTable.vacuum_ms.p50"] = p50(durs("vacuum"))
    n_commits = len(_samples(phase, "commit.data_files"))
    m["VersionedTable.files_per_commit"] = _ratio(sum(_samples(phase, "commit.data_files")), n_commits)
    m["VersionedTable.metadata_files_per_commit"] = _ratio(
        sum(_samples(phase, "commit.metadata_files")), n_commits)
    m["VersionedTable.bytes_written_per_user_byte"] = _ratio(
        sum(_samples(phase, "commit.bytes")), sum(_samples(phase, "commit.user_bytes")))
    m["RefTableMutations.upsert_mor_ms.p50"] = p50(durs("upsert_mor"))
    m["RefTableMutations.delete_mor_ms.p50"] = p50(durs("delete_mor"))
    m["RefTableMutations.upsert_cow_ms.p50"] = p50(durs("upsert_cow"))
    m["RefTableMutations.rows_rewritten_per_row_changed"] = _median(
        _samples(phase, "cow.rows_rewritten_per_changed"))

    triggers = sorted((s for s in in_window if s["name"] == "trigger" and s.get("rows", 0) > 0),
                      key=lambda s: s["t0"])
    phases = {}
    for s in in_window:
        if s["parent"] != -1 and s["layer"] != "spark":
            phases.setdefault(s["parent"], {})[s["name"]] = s["t1"] - s["t0"]
    first_of_gen, seen = [], set()
    for t in triggers:
        if t["gen"] not in seen:
            seen.add(t["gen"])
            first_of_gen.append(t)

    def phase_ms(name):
        return p50([phases.get(t["id"], {}).get(name, 0.0) for t in first_of_gen])

    m["SnapshotFiles.latest_offset_ms.p50"] = phase_ms("latestOffset")
    listed = _samples(phase, "scan.filesListed")
    pruned = _samples(phase, "scan.filesPruned")
    listing = [(a, b) for a, b in zip(listed, pruned) if a > 0]
    m["SnapshotFiles.files_listed"] = _median([a for a, _ in listing])
    m["SnapshotFiles.files_kept_frac"] = _ratio(sum(a - b for a, b in listing), sum(a for a, _ in listing))
    interval = next((o["interval_ms"] for o in phase["ops"] if o["k"] == "generation"), 0.0)
    m["RefTableMicroBatchStream.boundary_wait_ms.p50"] = p50(
        [t["t0"] - t["gen"] * interval for t in first_of_gen])
    m["RefTableMicroBatchStream.planning_ms.p50"] = phase_ms("queryPlanning")
    m["RefTableMicroBatchStream.add_batch_ms.p50"] = phase_ms("addBatch")
    m["RefTableMicroBatchStream.wal_commit_ms.p50"] = phase_ms("walCommit")
    m["RefTableMicroBatchStream.commit_offsets_ms.p50"] = phase_ms("commitOffsets")
    m["RefTableMicroBatchStream.batches_per_generation"] = _ratio(len(triggers), len(seen))
    m["RefTableReader.files_read"] = _median(_samples(phase, "scan.filesRead"))
    m["RefTableReader.split_bytes"] = _median(_samples(phase, "scan.splitBytes"))
    dv = sum(_samples(phase, "scan.dvRowsSkipped"))
    m["RefTableReader.dv_rows_skipped_frac"] = _ratio(dv, dv + sum(_samples(phase, "scan.numOutputRows")))

    m["operators.dedup_ms"] = _median(durs("dedup"))
    m["operators.quality_ms"] = _median(durs("quality"))
    m["operators.ivf_build_ms"] = _median(durs("ivf_build"))
    m["operators.ivf_topk_ms.p50"] = p50(durs("topk"))
    m["operators.pack_ms"] = _median(durs("pack"))
    m["operators.lsh_candidates_per_dup"] = _median(_samples(phase, "lsh_candidates_per_dup"))
    m["operators.near_dup_recall"] = _median(_samples(phase, "near_dup_recall"))
    m["operators.ivf_recall_at_k"] = _median(_samples(phase, "ivf_recall_at_k"))

    jobs = [s for s in in_window if s["name"] == "job"]
    m["spark.jobs"] = float(len(jobs))
    for key, name in (("tasks", "tasks"), ("run_ms", "executor_run_ms"), ("cpu_ms", "executor_cpu_ms"),
                      ("gc_ms", "gc_ms"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("shuffle_read_bytes", "shuffle_read_bytes"), ("spill_bytes", "spill_bytes"),
                      ("scheduler_delay_ms", "scheduler_delay_ms")):
        m["spark." + name] = float(sum(s.get(key, 0.0) for s in jobs))
    m["spark.driver_gap_ms"] = driver_gap_ms(in_window)

    for layer in LAYERS:
        m["self_ms." + layer] = sum(selfs[s["id"]] for s in in_window if s["layer"] == layer)
    m["wait_ms"] = sum(selfs[s["id"]] for s in in_window if s["layer"] == "wait")
    m["trace.coverage"] = coverage(in_window, TRACKS[workload], window)
    m["trace.spans"] = float(len(in_window))
    return m
