"""The benchmark's arithmetic, kept free of I/O so its tests can pin it."""
import statistics

import numpy as np


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                                for c in kids.get(s["id"], []) if c["t1"] > s["t0"] and
                                c["t0"] < s["t1"]])
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def steady_fps(batches, w0, w1):
    """Frames per second over the whole micro-batches that lie inside the
    window [w0, w1]: the median of each batch's frames over the time from
    the previous commit to its own, so one batch slowed by a stall outside
    the program does not move the figure. `batches` are (start, end,
    frames) in seconds, in commit order; returns (fps, batches used).
    Batches that straddle either edge are left out."""
    rates = []
    prev_end = None
    for s, e, n in sorted(batches):
        if s >= w0 and e <= w1 and n > 0:
            rates.append(n / (e - (prev_end if prev_end is not None and prev_end >= w0 else s)))
        prev_end = e
    if not rates:
        return 0.0, 0
    return median(rates), len(rates)


def freshness(batches, due, lo, hi):
    """Per-frame freshness in ms: the commit time of the batch holding the
    frame, minus the frame's due time. `batches` are (start offset, end
    offset, commit time in s); `due(offsets)` maps an array of offsets to
    due times in s; only offsets in [lo, hi) count. Returns (values, batch
    index of each value)."""
    vals, owner = [], []
    for k, (s, e, commit) in enumerate(batches):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        offs = np.arange(s, e)
        vals.append((commit - due(offs)) * 1e3)
        owner.append(np.full(e - s, k))
    if not vals:
        return np.zeros(0), np.zeros(0, int)
    return np.concatenate(vals), np.concatenate(owner)


def batches_beyond(values, owner, q):
    """Number of distinct batches holding a value at or above the q-th
    percentile: the independent samples that support that percentile."""
    if len(values) == 0:
        return 0
    cut = float(np.percentile(values, q))
    return len(set(owner[values >= cut].tolist()))


def conservation(sent, committed, truth, sums):
    """Failures of the conservation law for one ingest run.

    sent/committed: frames the generator sent and the stream committed;
    truth: {"queries": rows, "responses": non-NOERROR rows} from the
    generator; sums: {leg: [ungrouped, by address, by question]} summed
    `counter` per grouping set. Returns a list of messages, empty when
    every frame is accounted for."""
    fails = []
    if sent != committed:
        fails.append(f"frames sent {sent} != committed {committed}")
    for leg, want in truth.items():
        for name, got in zip(("ungrouped", "by_address", "by_question"), sums[leg][:3]):
            if got != want:
                fails.append(f"{leg}/{name}: sum(counter) {got} != generator's {want}")
    return fails


def unaccounted(sent, committed, truth, sums):
    """Frames the conservation check cannot account for: frames lost or
    duplicated between generator and stream, plus the largest row
    shortfall or excess over the grouping sets (capped at frames sent)."""
    rows_off = max((abs(got - want) for leg, want in truth.items() for got in sums[leg][:3]),
                   default=0)
    return min(sent, abs(sent - committed) + rows_off)
