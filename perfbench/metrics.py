"""Reduce a run record (written by perfbench.Main) to the benchmark's
metrics. Times in the record are epoch milliseconds."""
import statistics

MB = float(1 << 20)
# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of n samples beyond it;
    the median when there are too few samples for any higher one."""
    for p in TAIL_LADDER:
        # in tenths of a percent, so 99.9 is exact
        if n * (1000 - round(p * 10)) >= 10 * 1000:
            return p
    return 50.0


def latency_summary(values):
    """(p50, tail value, tail percentile, sample count)."""
    p = tail_percentile(len(values))
    return (percentile(values, 50), percentile(values, p), p, len(values))


def latency_samples(calls, kind, per_pass):
    """Latency samples in seconds of the calls of one kind: each call's
    duration, or with per_pass the summed duration of the kind's calls
    in each pass."""
    durations = [(s["pass"], (s["end"] - s["start"]) / 1000) for s in calls
                 if s["kind"] == kind]
    if not per_pass:
        return [d for _, d in durations]
    totals = {}
    for p, d in durations:
        totals[p] = totals.get(p, 0.0) + d
    return [totals[p] for p in sorted(totals)]


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_ms(span, jobs):
    """A call's wall time minus the time any of its jobs were running;
    overlapping jobs count once."""
    return (span["end"] - span["start"]) - union_ms(
        [(j["start"], j["end"]) for j in jobs], span["start"], span["end"])


def self_ms(span, children):
    """A span's duration minus the part its child spans cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def new_bytes(before, after):
    """Bytes in files that a call created or changed, from the listings
    (relative path -> size) of its root before and after the call."""
    return sum(size for path, size in after.items()
               if before.get(path) != size)


def bytes_written(spans):
    """span id -> bytes written under the span's root, for every span
    with a root, comparing each listing with the previous one of the same
    root (a root starts empty)."""
    last, out = {}, {}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["root"]:
            out[s["id"]] = new_bytes(last.get(s["root"], {}), s["files"])
            last[s["root"]] = s["files"]
    return out


def write_amp(spans, written):
    """Bytes written per logical byte handed to the writing calls."""
    amp = [s for s in spans if s["root"] and s["amp"]]
    logical = sum(s["logical_bytes"] for s in amp)
    return sum(written[s["id"]] for s in amp) / logical if logical else 0.0


def disk_bytes(spans):
    """Bytes on disk at the end: each root's last listing."""
    last = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["root"]:
            last[s["root"]] = sum(s["files"].values())
    return sum(last.values())


def attribute_jobs(jobs, spans):
    """span id -> jobs. A job that carried no span id (one submitted from
    a thread that did not inherit it) goes to the call it started in."""
    calls = [s for s in spans if s["parent"] >= 0]
    by_span = {s["id"]: [] for s in calls}
    for j in jobs:
        sid = j["span"]
        if sid not in by_span:
            sid = next((s["id"] for s in calls
                        if s["start"] <= j["start"] <= s["end"]), None)
        if sid is not None:
            by_span[sid].append(j)
    return by_span


def layer_counters(spans, jobs, written):
    """layer -> counter -> total over the calls in `spans` (one pass)."""
    by_span = attribute_jobs(jobs, spans)
    out = {}
    for s in spans:
        if s["parent"] < 0:
            continue
        js = by_span.get(s["id"], [])
        c = out.setdefault(s["name"], {
            "wall_s": 0.0, "driver_s": 0.0, "jobs": 0, "task_cpu_s": 0.0,
            "shuffle_mb": 0.0, "bytes_written_mb": 0.0, "pinned_mb": 0.0})
        c["wall_s"] += (s["end"] - s["start"]) / 1000
        c["driver_s"] += driver_ms(s, js) / 1000
        c["jobs"] += len(js)
        c["task_cpu_s"] += sum(j["cpu_ns"] for j in js) / 1e9
        c["shuffle_mb"] += sum(j["shuffle_read_bytes"] for j in js) / MB
        c["bytes_written_mb"] += written.get(s["id"], 0) / MB
        c["pinned_mb"] += s["pinned_bytes"] / MB
    return out


def pass_wall_s(record, p):
    """A pass's wall time without the benchmark's own bookkeeping
    (directory listings and output checks)."""
    s = record["spans"][p["span"]]
    return (s["end"] - s["start"] - p["bookkeeping_ms"]) / 1000


def end_to_end(record):
    """Metrics of the untraced timed passes."""
    passes = [p for p in record["passes"]
              if not p["warmup"] and not p["traced"]]
    ids = {p["idx"] for p in passes}
    spans = [s for s in record["spans"] if s["pass"] in ids]
    calls = [s for s in spans if s["parent"] >= 0]
    per_pass = record["latency_per_pass"]
    commits = latency_samples(calls, "commit", per_pass)
    reads = latency_samples(calls, "read", per_pass)
    amps, spaces = [], []
    for p in passes:
        ps = [s for s in spans if s["pass"] == p["idx"]]
        amps.append(write_amp(ps, bytes_written(ps)))
        spaces.append(disk_bytes(ps) / p["live_bytes"]
                      if p["live_bytes"] else 0.0)
    return {
        "wall_s": statistics.median(pass_wall_s(record, p) for p in passes),
        "commit": latency_summary(commits),
        "read": latency_summary(reads),
        "write_amp": statistics.median(amps),
        "space_amp": statistics.median(spaces),
        "passes": len(passes),
    }


def per_layer(record, layers):
    """Median over the traced passes of each layer counter, plus the
    untraced time between layer calls and the tracing overhead."""
    traced = [p for p in record["passes"] if p["traced"]]
    # the first timed pass is still warming up, so the overhead compares
    # the traced passes with the untraced ones after them, which are
    # warmer: if anything the overhead is overstated
    untraced = [p for p in record["passes"] if not p["traced"]
                and p["idx"] > traced[0]["idx"]]
    per_pass, gaps = [], []
    for p in traced:
        ps = [s for s in record["spans"] if s["pass"] == p["idx"]]
        per_pass.append(layer_counters(ps, record["jobs"], bytes_written(ps)))
        root = record["spans"][p["span"]]
        kids = [s for s in ps if s["parent"] == root["id"]]
        gaps.append((self_ms(root, kids) - p["bookkeeping_ms"]) / 1000)
    out = {}
    for name in layers:
        layer, _, counter = name.rpartition(".")
        vals = [c.get(layer, {}).get(counter, 0.0) for c in per_pass]
        out[name] = statistics.median(vals) if vals else 0.0
    out["trace.gap_s"] = statistics.median(gaps)
    out["trace.overhead_s"] = (
        statistics.median(pass_wall_s(record, p) for p in traced)
        - statistics.median(pass_wall_s(record, p) for p in untraced))
    out["jvm.gc_s"] = statistics.median(p["gc_ms"] for p in traced) / 1000
    return out
