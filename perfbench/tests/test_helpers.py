"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import random
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle, stats  # noqa: E402
from perfbench.gen import DIRECTOR, SPOUSE, STARRING, Query  # noqa: E402
from perfbench.store import triple_checksum  # noqa: E402


# ---- percentile sample-count rule ------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(list(range(100)), 90) == 89  # 10 above
    assert stats.supported_percentile(list(range(99)), 90) is None  # 9 above
    assert stats.supported_percentile([], 50) is None


def test_highest_supported_percentile():
    assert stats.highest_supported_percentile(list(range(1000))) == (99, 989)
    assert stats.highest_supported_percentile(list(range(100))) == (90, 89)
    assert stats.highest_supported_percentile(list(range(8))) is None


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


# ---- seed determinism -------------------------------------------------------

def test_window_is_a_pure_function_of_the_seed():
    assert gen.window(3) == gen.window(3)
    lo, hi = gen.window(3)
    assert hi - lo == gen.WINDOW_DOCS and 0 <= lo < gen.CORPUS_SPAN
    assert len({gen.window(s) for s in range(20)}) == 20


def test_zipf_draws_repeat_per_seed_and_skew():
    items = [f"<ent:e{i}>" for i in range(500)]
    a = gen.ZipfPool(items, random.Random("p"))
    b = gen.ZipfPool(items, random.Random("p"))
    ra, rb = random.Random(1), random.Random(1)
    da = [a.draw(ra) for _ in range(2000)]
    assert da == [b.draw(rb) for _ in range(2000)]
    top = Counter(da).most_common(1)[0][1]
    assert top > 2000 / 500 * 20  # the head repeats far above uniform
    assert set(da) <= set(items)


TOY = [
    ("<ent:f1>", STARRING, "<ent:a>"), ("<ent:f1>", DIRECTOR, "<ent:d>"),
    ("<ent:f2>", STARRING, "<ent:a>"), ("<ent:f2>", DIRECTOR, "<ent:d>"),
    ("<ent:f2>", DIRECTOR, "<ent:e>"), ("<ent:a>", SPOUSE, "<ent:d>"),
    ("<ent:d>", SPOUSE, "<ent:e>"), ("<ent:e>", "<rel:birthPlace>", "<ent:c>"),
    ("<ent:a>", "<rel:name>", '"A"@en'),
]


def test_query_mix_is_seeded():
    pools = gen.entity_pools(TOY, 5)
    r1 = gen.QueryMix(pools, 5).next_round()
    r2 = gen.QueryMix(gen.entity_pools(TOY, 5), 5).next_round()
    assert r1 == r2
    assert sorted(q.name for q in r1) == sorted(gen.TEMPLATE_NAMES)


def test_update_batches_are_seeded_and_well_formed():
    triples = {(f"<ent:s{i}>", SPOUSE, f"<ent:s{(i * 7) % 300}>") for i in range(300)}
    ins, dels = gen.update_batch(triples, 9)
    assert (ins, dels) == gen.update_batch(triples, 9)
    assert (ins, dels) != gen.update_batch(triples, 10)
    assert len({t[0] for t in ins}) == gen.NARROW_SUBJECTS == len(dels)
    assert {d[0] for d in dels} == {t[0] for t in ins}
    assert all(d in triples for d in dels)
    assert all(t[:3] not in triples for t in ins)


# ---- oracle -----------------------------------------------------------------

def q(name, const=None):
    return Query(name, False, "", const)


def test_oracle_set_semantics_on_a_hand_built_graph():
    g = oracle.Graph(TOY)
    assert oracle.evaluate(g, q("point", "<ent:a>"), bag=False) == Counter(
        {(SPOUSE, "<ent:d>"): 1, ("<rel:name>", '"A"@en'): 1})
    assert oracle.evaluate(g, q("point_in", "<ent:d>"), bag=False) == Counter(
        {("<ent:f1>", DIRECTOR): 1, ("<ent:f2>", DIRECTOR): 1, ("<ent:a>", SPOUSE): 1})
    assert oracle.evaluate(g, q("bound_star", "<ent:a>"), bag=False) == Counter(
        {("<ent:f1>", "<ent:d>"): 1, ("<ent:f2>", "<ent:d>"): 1, ("<ent:f2>", "<ent:e>"): 1})
    assert oracle.evaluate(g, q("ask", "<ent:d>"), bag=False) is True
    assert oracle.evaluate(g, q("ask", "<ent:a>"), bag=False) is False
    assert oracle.evaluate(g, q("star_count"), bag=False) == 3
    # (f, a, d) with a spouse d: (f1, a, d) and (f2, a, d)
    assert oracle.evaluate(g, q("tri_count"), bag=False) == 2
    assert oracle.evaluate(g, q("agg"), bag=False) == [("<ent:d>", 2), ("<ent:e>", 1)]
    assert oracle.evaluate(g, q("path", "<ent:a>"), bag=False) == Counter(
        {("<ent:d>",): 1, ("<ent:e>",): 1})


def test_oracle_separates_the_duplicate_row_defect_from_wrong_answers():
    # the director edge of f1 is stored twice (two source documents)
    g = oracle.Graph(TOY + [("<ent:f1>", DIRECTOR, "<ent:d>")])
    assert oracle.evaluate(g, q("star_count"), bag=True) == 4
    assert oracle.classify(g, q("star_count"), [(3,)]) == oracle.OK
    assert oracle.classify(g, q("star_count"), [(4,)]) == oracle.DUP_DEFECT
    assert oracle.classify(g, q("star_count"), [(5,)]) == oracle.WRONG
    rows = [("<ent:f1>", DIRECTOR), ("<ent:f2>", DIRECTOR), ("<ent:a>", SPOUSE)]
    pin = q("point_in", "<ent:d>")
    assert oracle.classify(g, pin, rows) == oracle.OK
    assert oracle.classify(g, pin, rows + [("<ent:f1>", DIRECTOR)]) == oracle.DUP_DEFECT
    assert oracle.classify(g, pin, rows[:2]) == oracle.WRONG
    assert oracle.classify(g, q("agg"), [("<ent:d>", 3), ("<ent:e>", 1)]) == oracle.DUP_DEFECT


def test_triple_checksum_is_order_independent():
    a = triple_checksum(set(TOY))
    assert a == triple_checksum(set(reversed(TOY)))
    assert a != triple_checksum(set(TOY[1:]))
    assert a.startswith(f"{len(TOY)}:")
