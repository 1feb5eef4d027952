"""Pure logic of the benchmark: the query panel and its seeded order, the
tail rule, span attribution and self times, and the output checks. No I/O
here, so tests/test_lib.py can check it without Spark."""
import math
import random
import re

FAMILY = re.compile(r"^([a-z]+?)\d")


def family(name):
    """Query family: the letters before the first digit (q, st, ...), or the
    prefix before the first underscore (laplace_...)."""
    m = FAMILY.match(name)
    return m.group(1) if m else name.split("_", 1)[0]


def panel(names, stride):
    """The fixed query panel: a systematic sample of every `stride`-th query
    of each family in name order, starting mid-stride, and never fewer than
    one query per family."""
    fams = {}
    for n in sorted(names):
        fams.setdefault(family(n), []).append(n)
    out = []
    for f in sorted(fams):
        qs = fams[f]
        out.extend(qs[min(stride // 2, len(qs) - 1)::stride])
    return out


def seeded_order(panel_names, seed):
    """The order a run submits the panel in. The seed permutes the order,
    and so how JIT, GC and the program's work interleave; it does not change
    the panel itself (see README.md)."""
    order = list(panel_names)
    random.Random(f"perfbench:{seed}").shuffle(order)
    return order


def tail(values, min_beyond=10):
    """The highest percentile p (whole percent, at most 99) whose nearest-rank
    sample has at least `min_beyond` samples ranked above it. Returns
    (p, value, samples beyond), or None if even the median has fewer."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100 * n))  # nearest rank, 1-based
        beyond = n - k
        if beyond >= min_beyond:
            return p, xs[k - 1], beyond
    return None


# ---- spans and attribution ------------------------------------------------

def attribute(spans, t):
    """The deepest span whose [start, end) holds time t, or None. Spans nest,
    so the deepest is the one that started last, or of those the shortest."""
    holding = [s for s in spans if s["start"] <= t < s["end"]]
    return max(holding, key=lambda s: (s["start"], -s["end"]), default=None)


def listener_spans(spans, jobs, stages, tasks):
    """Turn listener records into spans parented as the trace defines them:
    a job to the benchmark span it started in, a stage to its job, a task to
    its stage. Returns the new spans (ids continue after the benchmark's)."""
    out = []
    next_id = max((s["id"] for s in spans), default=0) + 1
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["start"]):
        parent = attribute(spans, j["start"])
        sid = next_id
        next_id += 1
        out.append({"id": sid, "parent": parent["id"] if parent else 0, "name": "job",
                    "start": j["start"], "end": j["end"], "job": j["id"]})
        for st in j["stages"]:
            stage_job[st] = sid
    stage_span = {}
    for st in stages:
        if st["id"] not in stage_job or not st["start"]:
            continue
        sid = next_id
        next_id += 1
        stage_span[(st["id"], st["attempt"])] = sid
        stage_span.setdefault(st["id"], sid)
        out.append({"id": sid, "parent": stage_job[st["id"]], "name": "stage",
                    "start": st["start"], "end": st["end"], "stage": st["id"]})
    for t in tasks:
        parent = stage_span.get(t["stage"])
        if parent is None:
            continue
        out.append({"id": next_id, "parent": parent, "name": "task",
                    "start": t["start"], "end": t["end"]})
        next_id += 1
    return out


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, root_id):
    """Self time of every span in the subtree under root_id (root included):
    the part of its duration its children do not cover. Children are clipped
    to their parent, and children running in parallel share each instant
    they overlap equally (four tasks side by side get a quarter each), so
    the self times of a subtree add up to the root's duration exactly.
    Returns {span id: (name, self ms)}."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def walk(s, segs):
        # segs: the (start, end, weight) pieces of s's time, in order
        cs = sorted(kids.get(s["id"], []), key=lambda c: c["start"])
        pts = sorted({p for a, b, _ in segs for p in (a, b)} |
                     {p for c in cs for p in (c["start"], c["end"])
                      if segs[0][0] < p < segs[-1][1]})
        share = {c["id"]: [] for c in cs}
        own = 0.0
        active, nxt, si = [], 0, 0
        for lo, hi in zip(pts, pts[1:]):
            while si < len(segs) and segs[si][1] <= lo:
                si += 1
            if si == len(segs) or segs[si][0] > lo:
                continue  # a gap between the pieces of s
            w = segs[si][2]
            while nxt < len(cs) and cs[nxt]["start"] <= lo:
                active.append(cs[nxt])
                nxt += 1
            active = [c for c in active if c["end"] >= hi]
            if not active:
                own += w * (hi - lo)
            for c in active:
                share[c["id"]].append((lo, hi, w / len(active)))
        out[s["id"]] = (s["name"], own)
        for c in cs:
            if share[c["id"]]:
                walk(c, share[c["id"]])
            else:
                out[c["id"]] = (c["name"], 0.0)

    root = by_id[root_id]
    walk(root, [(root["start"], root["end"], 1.0)])
    return out


def layer_of(name):
    """Benchmark span names to the layer their self time is charged to."""
    if name.startswith("query:"):
        return "driver"
    return name.split(":")[0]


def idle_ms(span, task_spans):
    """Time inside span during which no task runs."""
    covered = union_length([(t["start"], t["end"]) for t in task_spans],
                           span["start"], span["end"])
    return (span["end"] - span["start"]) - covered


# ---- output checks ---------------------------------------------------------

def grid_ok(solve, expected):
    return (solve.get("iterations") == expected["iterations"]
            and solve.get("final_diff") == expected["final_diff"]
            and solve.get("grid_digest") == expected["grid_digest"])


def check_ok(check, reference):
    return "error" not in check and reference is not None and \
        check.get("digest") == reference.get("digest") and \
        check.get("rows") == reference.get("rows")
