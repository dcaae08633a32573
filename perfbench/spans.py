"""Span-tree arithmetic for the traced run: self time of a span is its
duration minus the part of its interval that its children cover."""


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """{span id: self time in ms}; never negative, never above the span."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        dur = max(0.0, s["endMs"] - s["startMs"])
        cov = covered([(c["startMs"], c["endMs"]) for c in kids.get(s["id"], [])],
                      s["startMs"], s["endMs"])
        out[s["id"]] = max(0.0, dur - cov)
    return out


def subtree(spans, root_id):
    """The spans below root_id, root included."""
    kids = children_of(spans)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def layer_self_s(spans, root_id):
    """{layer: summed self time in s} over the subtree of root_id."""
    tree = subtree(spans, root_id)
    own = self_times(tree)
    out = {}
    for s in tree:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]] / 1e3
    return out


# Spark stamps listener events in whole milliseconds of the clock the
# benchmark's spans read with microsecond digits
TOLERANCE_MS = 2.0


def check_tree(spans):
    """Problems with a span list: unknown parents, cycles, a child whose
    interval leaves its parent's, or a self time above its span's
    duration. Empty when the tree is well formed. Self times clip children
    to their parent, so a child outside its parent would otherwise count
    twice unseen: once in its own layer, once in the parent's self time."""
    by_id = {s["id"]: s for s in spans}
    problems = [f"span {s['id']} has unknown parent {s['parent']}"
                for s in spans if s["parent"] != 0 and s["parent"] not in by_id]
    for s in spans:
        p = by_id.get(s["parent"])
        if p and (s["startMs"] < p["startMs"] - TOLERANCE_MS
                  or s["endMs"] > p["endMs"] + TOLERANCE_MS):
            problems.append(f"span {s['id']} ({s['kind']} {s['name']}) lies "
                            f"outside its parent {p['id']} ({p['kind']})")
    parent = {s["id"]: s["parent"] for s in spans}
    for s in spans:
        seen, p = set(), s["id"]
        while p and p not in seen:
            seen.add(p)
            p = parent.get(p, 0)
        if p:
            problems.append(f"span {s['id']} is on a cycle")
    own = self_times(spans)
    for s in spans:
        if own[s["id"]] > s["endMs"] - s["startMs"] + 1e-9:
            problems.append(f"span {s['id']} self time exceeds its duration")
    return problems
