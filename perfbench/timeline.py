"""Attribution arithmetic for the traced run.

Spans are dicts with ``id``, ``parent``, ``name``, ``start`` and ``end``
(seconds). Spark jobs become child spans of the span whose job group
they carried; a job whose group is missing, or names a span that was
not open when the job started (a pool thread that kept an old group),
is attributed to the innermost span open at its start and counted as
unattributed.
"""
from collections import defaultdict


def union_length(intervals, lo=None, hi=None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_seconds(tasks, start, end) -> float:
    """Wall time in [start, end] with no task running: the scheduler
    floor. ``tasks`` are (launch, finish) pairs."""
    return (end - start) - union_length(tasks, start, end)


def self_times(spans) -> dict:
    """Span id -> its self time: the wall time during which it is the
    innermost open span. Each span is first clipped to its parent; of
    overlapping siblings (concurrent jobs) the later-started one owns
    the overlap. So a span's subtree self times add up to exactly its
    duration, and every instant of a pass is owned by one layer."""
    by_id = {s["id"]: s for s in spans}
    depth, lo, hi = {}, {}, {}

    def clip(sid):
        if sid not in depth:
            s = by_id[sid]
            p = s["parent"]
            if p in by_id:
                clip(p)
                depth[sid] = depth[p] + 1
                lo[sid], hi[sid] = max(s["start"], lo[p]), min(s["end"], hi[p])
            else:
                depth[sid], lo[sid], hi[sid] = 0, s["start"], s["end"]
    for sid in by_id:
        clip(sid)
    live = [sid for sid in by_id if hi[sid] > lo[sid]]
    points = sorted({lo[x] for x in live} | {hi[x] for x in live})
    out = {sid: 0.0 for sid in by_id}
    for a, b in zip(points, points[1:]):
        open_ = [x for x in live if lo[x] <= a and hi[x] >= b]
        if open_:
            owner = max(open_, key=lambda x: (depth[x], lo[x], x))
            out[owner] += b - a
    return out


def attach_jobs(spans, jobs):
    """Add one span per Spark job under the span that caused it.

    ``jobs`` are dicts with ``id``, ``group``, ``start`` and ``end``. Returns (spans with jobs added, number of jobs attributed
    by time window instead of by group)."""
    by_id = {s["id"]: s for s in spans}
    next_id = max(by_id, default=0) + 1
    out = list(spans)
    unattributed = 0
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        parent = None
        g = j.get("group") or ""
        if g.startswith("perfbench:"):
            p = by_id.get(int(g.split(":", 1)[1]))
            if p is not None and p["start"] <= j["start"] <= p["end"]:
                parent = p
        by_group = parent is not None
        if not by_group:
            unattributed += 1
            open_at = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if not open_at:
                continue
            # the innermost: latest start, then latest opened (children
            # get larger ids than their parents)
            parent = max(open_at, key=lambda s: (s["start"], s["id"]))
        out.append({"id": next_id, "parent": parent["id"], "name": "job",
                    "start": j["start"], "end": max(j["end"], j["start"]),
                    "job": j["id"], "by_group": by_group})
        next_id += 1
    return out, unattributed


def layer_of(name: str) -> str:
    """The layer a span name belongs to, for the self-time table."""
    if name.startswith("query:"):
        return "query"
    if name.startswith("stage:"):
        return "stage"
    if name in ("cold", "warm"):
        return "pass"
    return name


def self_time_table(spans) -> dict:
    """Layer -> summed self time, over every span of that layer."""
    st = self_times(spans)
    table = defaultdict(float)
    for s in spans:
        table[layer_of(s["name"])] += st[s["id"]]
    return dict(table)
