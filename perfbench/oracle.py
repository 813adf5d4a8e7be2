"""Answer oracle for the query templates, independent of kg.match.

Evaluates each template in plain Python over the store's triples, twice:
  - set semantics over the DISTINCT (subj, pred, obj) set: the correct
    SPARQL answer, since an RDF graph is a set of triples;
  - bag semantics over the stored row multiset, where a triple stored k
    times contributes k copies to every solution it takes part in.

An answer equal to the set answer is right. An answer equal to the bag
answer but not the set answer shows the known duplicate-row defect (the
store keeps one row per source document of a triple, see README.md).
Anything else is wrong."""

from __future__ import annotations

from collections import Counter, defaultdict

from perfbench.gen import BIRTHPLACE, DIRECTOR, SPOUSE, STARRING, TOP_K, Query

OK, DUP_DEFECT, WRONG = "ok", "dup_defect", "wrong"


class Graph:
    def __init__(self, rows):
        self.bag = Counter(rows)
        self.out = defaultdict(list)  # s -> [(p, o)] over distinct triples
        self.inn = defaultdict(list)  # o -> [(s, p)]
        self.by_p = defaultdict(list)  # p -> [(s, o)]
        for s, p, o in self.bag:
            self.out[s].append((p, o))
            self.inn[o].append((s, p))
            self.by_p[p].append((s, o))

    def m(self, s, p, o, bag: bool) -> int:
        return self.bag[(s, p, o)] if bag else 1


def evaluate(g: Graph, q: Query, bag: bool):
    """Canonical answer: a Counter of row tuples for row-returning
    templates, an int for COUNTs, a bool for ASK, a list for top-k."""
    c = q.const
    if q.name == "point":
        return Counter({(p, o): g.m(c, p, o, bag) for p, o in g.out[c]})
    if q.name == "point_in":
        return Counter({(s, p): g.m(s, p, c, bag) for s, p in g.inn[c]})
    if q.name == "bound_star":
        out = Counter()
        for f, p in g.inn[c]:
            if p == STARRING:
                for p2, d in g.out[f]:
                    if p2 == DIRECTOR:
                        out[(f, d)] += g.m(f, STARRING, c, bag) * g.m(f, DIRECTOR, d, bag)
        return out
    if q.name == "ask":
        return any(
            p == SPOUSE and any(p2 == BIRTHPLACE for p2, _ in g.out[x])
            for p, x in g.out[c]
        )
    if q.name in ("star_count", "tri_count"):
        spouse = set(g.by_p[SPOUSE])
        n = 0
        for f, a in g.by_p[STARRING]:
            for p, d in g.out[f]:
                if p != DIRECTOR:
                    continue
                if q.name == "tri_count":
                    if (a, d) not in spouse:
                        continue
                    w = g.m(a, SPOUSE, d, bag)
                else:
                    w = 1
                n += w * g.m(f, STARRING, a, bag) * g.m(f, DIRECTOR, d, bag)
        return n
    if q.name == "agg":
        counts = Counter()
        for f, d in g.by_p[DIRECTOR]:
            counts[d] += g.m(f, DIRECTOR, d, bag)
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    if q.name == "path":
        # one-or-more spouse steps; a path answer is a set in both semantics
        seen, frontier = set(), [c]
        while frontier:
            nxt = []
            for x in frontier:
                for p, y in g.out[x]:
                    if p == SPOUSE and y not in seen:
                        seen.add(y)
                        nxt.append(y)
            frontier = nxt
        return Counter({(y,): 1 for y in seen})
    raise ValueError(f"no oracle for template {q.name!r}")


def canonical(q: Query, rows) -> object:
    """Program result rows (tuples in projection order) -> the shape
    ``evaluate`` returns."""
    if q.name in ("star_count", "tri_count"):
        return int(rows[0][0])
    if q.name == "ask":
        return bool(rows[0][0])
    if q.name == "agg":
        return [(d, int(n)) for d, n in rows]
    return Counter(tuple(r) for r in rows)


def classify(g: Graph, q: Query, rows) -> str:
    got = canonical(q, rows)
    if got == evaluate(g, q, bag=False):
        return OK
    if got == evaluate(g, q, bag=True):
        return DUP_DEFECT
    return WRONG
