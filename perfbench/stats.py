"""Summary statistics and span arithmetic for the benchmark's reports."""
import math


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 100]) of a non-empty list:
    the value at rank q/100 * (n - 1) of the sorted values."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean of positive values; every value weighs the same."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


class Span:
    """A named interval (epoch ms) with child spans."""

    def __init__(self, name, start_ms, end_ms, **attrs):
        self.name, self.start_ms, self.end_ms = name, start_ms, end_ms
        self.attrs = attrs
        self.children = []

    @property
    def duration_ms(self):
        return self.end_ms - self.start_ms

    def self_ms(self):
        """Duration minus the part of this interval the children cover."""
        covered = union_length([(c.start_ms, c.end_ms) for c in self.children],
                               self.start_ms, self.end_ms)
        return self.duration_ms - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self):
        d = {"name": self.name, "start_ms": self.start_ms, "end_ms": self.end_ms,
             "self_ms": self.self_ms()}
        d.update(self.attrs)
        if self.children:
            d["children"] = [c.to_json() for c in self.children]
        return d


def nest(parent, spans):
    """Hang each span under the innermost span of `parent`'s tree that contains
    its start and return `parent`. Spans of one name never nest in each other:
    concurrent jobs are siblings."""
    for s in sorted(spans, key=lambda s: (s.start_ms, -s.end_ms)):
        node = parent
        while True:
            inner = [c for c in node.children
                     if c.name != s.name and c.start_ms <= s.start_ms < c.end_ms]
            if not inner:
                break
            node = inner[-1]
        node.children.append(s)
    return parent


def self_time_by_name(root):
    """Sum of self time (ms) per span name over the tree."""
    out = {}
    for s in root.walk():
        out[s.name] = out.get(s.name, 0.0) + s.self_ms()
    return out
