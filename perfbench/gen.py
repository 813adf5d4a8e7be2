"""Seeded benchmark inputs: corpus windows, Zipf constants, the query mix
and update batches. Every draw is a pure function of the seed (string-keyed
``random.Random``, stable across processes and PYTHONHASHSEED)."""

from __future__ import annotations

import bisect
import random
from dataclasses import dataclass

WINDOW_DOCS = 1000
# every seed draws its window from one entity universe, so windows differ in
# which facts they hold, not in the vocabulary they are drawn from: the
# universe of a 2000-document corpus at the generator's default density
# (sources.corpus.default_entities, one entity per ten documents)
N_ENTITIES = 200
CORPUS_SPAN = 1_000_000
N_PARTS = 4

ZIPF_S = 1.1


def window(seed: int) -> tuple[int, int]:
    """[lo, hi) document indices of the seed's corpus window."""
    lo = random.Random(f"window:{seed}").randrange(0, CORPUS_SPAN)
    return lo, lo + WINDOW_DOCS


class ZipfPool:
    """Items in a seeded random rank order; ``draw`` picks rank r with
    probability proportional to 1 / r**s, so a few items repeat often."""

    def __init__(self, items, rng: random.Random, s: float = ZIPF_S):
        self.items = sorted(items)
        if not self.items:
            raise ValueError("empty Zipf pool")
        rng.shuffle(self.items)
        cum, acc = [], 0.0
        for r in range(1, len(self.items) + 1):
            acc += 1.0 / r**s
            cum.append(acc)
        self._cum = cum

    def draw(self, rng: random.Random):
        i = bisect.bisect_left(self._cum, rng.random() * self._cum[-1])
        return self.items[min(i, len(self.items) - 1)]


# ---- query mix ----------------------------------------------------------

STARRING = "<rel:starring>"
DIRECTOR = "<rel:director>"
SPOUSE = "<rel:spouse>"
BIRTHPLACE = "<rel:birthPlace>"
TOP_K = 5


@dataclass(frozen=True)
class Query:
    name: str
    assembled: bool
    text: str
    const: str | None  # the Zipf-drawn entity, None for constant-free shapes


# (name, assembled, pool, text builder); every result is bounded by a
# vertex degree, a single aggregate row, TOP_K groups or a path closure
TEMPLATES = [
    ("point", False, "subjects", lambda c: f"SELECT ?p ?o WHERE {{ {c} ?p ?o }}"),
    ("point_in", True, "objects", lambda c: f"SELECT ?s ?p WHERE {{ ?s ?p {c} }}"),
    ("bound_star", False, "actors",
     lambda c: f"SELECT ?f ?d WHERE {{ ?f {STARRING} {c} . ?f {DIRECTOR} ?d }}"),
    ("ask", True, "spouses",
     lambda c: f"ASK {{ {c} {SPOUSE} ?x . ?x {BIRTHPLACE} ?c }}"),
    ("star_count", False, None,
     lambda c: f"SELECT (COUNT(*) AS ?n) WHERE {{ ?f {STARRING} ?a . ?f {DIRECTOR} ?d }}"),
    ("tri_count", False, None,
     lambda c: f"SELECT (COUNT(*) AS ?n) WHERE {{ ?f {STARRING} ?a . "
               f"?f {DIRECTOR} ?d . ?a {SPOUSE} ?d }}"),
    ("agg", True, None,
     lambda c: f"SELECT ?d (COUNT(?f) AS ?n) WHERE {{ ?f {DIRECTOR} ?d }} "
               f"GROUP BY ?d ORDER BY DESC(?n) ?d LIMIT {TOP_K}"),
    ("path", False, "spouses", lambda c: f"SELECT ?y WHERE {{ {c} {SPOUSE}+ ?y }}"),
]
TEMPLATE_NAMES = [t[0] for t in TEMPLATES]


def entity_pools(triples, seed: int) -> dict[str, ZipfPool]:
    """Zipf pools over the store's own entities, by the role a template
    binds its constant to."""
    roles: dict[str, set] = {"subjects": set(), "objects": set(), "actors": set(),
                             "spouses": set()}
    for s, p, o in triples:
        roles["subjects"].add(s)
        if o.startswith("<"):
            roles["objects"].add(o)
        if p == STARRING:
            roles["actors"].add(o)
        elif p == SPOUSE:
            roles["spouses"].add(s)
    return {
        name: ZipfPool(items or roles["subjects"], random.Random(f"pool:{seed}:{name}"))
        for name, items in roles.items()
    }


class QueryMix:
    """Round r sends every template once, in a seeded order."""

    def __init__(self, pools: dict[str, ZipfPool], seed: int):
        self.pools = pools
        self.rng = random.Random(f"queries:{seed}")

    def next_round(self) -> list[Query]:
        order = list(TEMPLATES)
        self.rng.shuffle(order)
        out = []
        for name, assembled, pool, text in order:
            c = self.pools[pool].draw(self.rng) if pool else None
            out.append(Query(name, assembled, text(c), c))
        return out


# ---- update batches -----------------------------------------------------

NARROW_SUBJECTS = 2


def update_batch(triples: set, seed: int):
    """A narrow batch -> (inserts [(s, p, o, o_is_entity)], deletes
    [(s, p, o)]): NARROW_SUBJECTS subjects each get a fresh birthPlace
    entity and lose one stored triple, so only their owner partitions
    change."""
    rng = random.Random(f"update:{seed}")
    ordered = sorted(triples)
    subs = rng.sample(sorted({t[0] for t in ordered}), NARROW_SUBJECTS)
    inserts = [(s, BIRTHPLACE, f"<ent:perfbench_city_{seed}_{i}>", True)
               for i, s in enumerate(subs)]
    deletes = [rng.choice([t for t in ordered if t[0] == s]) for s in subs]
    return inserts, deletes
