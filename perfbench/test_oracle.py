"""Self-tests of the benchmark's oracle and input generators.

Run with ``python3 -m pytest perfbench/test_oracle.py`` or
``python3 perfbench/test_oracle.py``; ``run.py`` also runs them before every
benchmark run and reports the run incorrect if one fails. No Spark needed.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle as O  # noqa: E402

F1, F2, F3 = "<ent:f1>", "<ent:f2>", "<ent:f3_new>"
D, A1, A2, A3, X = "<ent:d>", "<ent:a1>", "<ent:a2>", "<ent:a3>", "<ent:x>"
N1, N2 = '"F1"@en', '"F2"@en'

# a tiny graph as a BAG: (f1 starring a1) is stored twice, as the pipeline
# stores one row per (fact, source page)
BAG = [
    (F1, O.DIRECTOR, D), (F1, O.STARRING, A1), (F1, O.STARRING, A1),
    (F1, O.STARRING, A2), (F2, O.DIRECTOR, D), (F2, O.STARRING, A1),
    (A1, O.SPOUSE, D), (A2, O.SPOUSE, A3), (A1, O.BIRTHPLACE, X),
    (A3, O.BIRTHPLACE, X), (F1, O.NAME, N1), (F2, O.NAME, N2),
]
INSERTS = [(F2, O.STARRING, A2, True), (A2, O.BIRTHPLACE, X, True),
           (F3, O.DIRECTOR, D, True)]
DELETES = [(A1, O.SPOUSE, D), (F1, O.STARRING, A1)]

T = O.BY_NAME

# hand-derived answers: (template, constant) -> rows in projection order
BEFORE = {
    ("point", F1): [(O.DIRECTOR, D), (O.STARRING, A1), (O.STARRING, A2), (O.NAME, N1)],
    ("star", D): [(F1, A1, N1), (F1, A2, N1), (F2, A1, N2)],
    ("chain", D): [(F1, A1, D), (F1, A2, A3), (F2, A1, D)],
    ("cycle", D): [(F1, A1), (F2, A1)],
    ("ask", A1): [],
    ("ask", A2): [(True,)],
    ("optional_filter", D): [(F1, A1, X), (F1, A2, None), (F2, A1, X)],
}
AFTER = {
    ("point", F1): [(O.DIRECTOR, D), (O.STARRING, A2), (O.NAME, N1)],
    ("star", D): [(F1, A2, N1), (F2, A1, N2), (F2, A2, N2)],
    ("chain", D): [(F1, A2, A3), (F2, A2, A3)],
    ("cycle", D): [],
    ("ask", A1): [],
    ("ask", A2): [(True,)],
    ("optional_filter", D): [(F1, A2, X), (F2, A1, X), (F2, A2, X)],
}


def _cols(t):
    return ["ask"] if t.form == "ask" else [v[1:] for v in t.projection]


def _check_answers(orc, expected):
    for (name, const), rows in expected.items():
        t = T[name]
        cols, got = orc.answer(t, const)
        verdict = O.classify(cols, got, _cols(t), rows)
        if verdict != "ok":
            raise AssertionError(f"{name}({const}): oracle gave {got}, expected {rows}")


def test_templates_cover_every_shape():
    assert set(O.TEMPLATE_NAMES) == {
        "point", "star", "chain", "cycle", "ask", "optional_filter"}
    assert {(n, c) for n, c in BEFORE} >= {(n, c) for n, c in AFTER}
    assert {n for n, _ in BEFORE} == set(O.TEMPLATE_NAMES)


def test_oracle_hand_answers_before_and_after_batch():
    orc = O.Oracle(BAG)  # the oracle sees the SET: the duplicate collapses
    try:
        _check_answers(orc, BEFORE)
        orc.apply(INSERTS, DELETES)
        _check_answers(orc, AFTER)
    finally:
        orc.close()


def test_bag_answer_is_flagged_as_duplicate_error():
    # counting the duplicated row twice (bag semantics) is a wrong answer of
    # the "dup" kind; a missing or an extra distinct row is plainly wrong
    want = BEFORE[("star", D)]
    cols = _cols(T["star"])
    bag = want + [(F1, A1, N1)]
    assert O.classify(cols, bag, cols, want) == "dup"
    assert O.classify(cols, want[:-1], cols, want) == "wrong"
    assert O.classify(cols, want + [(F2, A2, N2)], cols, want) == "wrong"
    assert O.classify(cols, list(reversed(want)), cols, want) == "ok"
    # columns compare by name, whatever their order
    perm = [(n, f, a) for f, a, n in want]
    assert O.classify(["n", "f", "a"], perm, cols, want) == "ok"


def test_sparql_and_sql_come_from_one_template():
    t = T["optional_filter"]
    text = O.sparql_text(t, D)
    assert text == (
        f"SELECT ?f ?a ?c WHERE {{ ?f {O.DIRECTOR} {D} . ?f {O.STARRING} ?a "
        f"OPTIONAL {{ ?a {O.BIRTHPLACE} ?c }} FILTER(?a != {D}) }}"
    )
    assert O.sparql_text(T["ask"], A1).startswith("ASK {")
    sql = O.sql_text(t, D)
    assert "LEFT JOIN g opt" in sql and f"<> '{D}'" in sql


def _random_graph(n=400, seed=7):
    rng = random.Random(seed)
    people = [f"<ent:p{i}>" for i in range(60)]
    films = [f"<ent:f{i}>" for i in range(40)]
    g = set()
    while len(g) < n:
        k = rng.randrange(4)
        if k == 0:
            g.add((rng.choice(films), O.DIRECTOR, rng.choice(people)))
        elif k == 1:
            g.add((rng.choice(films), O.STARRING, rng.choice(people)))
        elif k == 2:
            g.add((rng.choice(people), O.SPOUSE, rng.choice(people)))
        else:
            g.add((rng.choice(people), O.BIRTHPLACE, "<ent:city>"))
    return g


def test_same_seed_gives_identical_inputs():
    g = _random_graph()
    assert O.query_plan(g, 3, 30) == O.query_plan(g, 3, 30)
    assert O.update_batch(g, 3, 0) == O.update_batch(g, 3, 0)
    assert O.update_batch(g, 3, 1) == O.update_batch(g, 3, 1)


def test_corpus_window_fits_any_seed():
    # the corpus dates document i 137 * i seconds after 2024-01-01
    import pandas as pd

    for seed in (-1, 0, 1, 9_999, 10_000, 2**31 - 1, 2**64 + 5):
        w = O.corpus_window(seed)
        assert len(w) == O.N_DOCS and 0 <= w[0] and w == O.corpus_window(seed)
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=137 * w[-1])
    assert O.corpus_window(1) != O.corpus_window(2)


def test_different_seeds_give_different_constants():
    g = _random_graph()
    a = [c for _, c in O.query_plan(g, 1, 30)]
    b = [c for _, c in O.query_plan(g, 2, 30)]
    assert a != b
    assert O.update_batch(g, 1, 0) != O.update_batch(g, 2, 0)


def test_update_batches_are_valid():
    g = _random_graph()
    for i in range(4):
        ins, dels = O.update_batch(g, 5, i)
        size = len(ins) + len(dels)
        lo, hi = (2, 5) if O.batch_kind(i) == O.SMALL else (45, 55)
        assert lo <= size <= hi
        assert ins and dels
        assert all(d in g for d in dels)
        assert all(t[:3] not in g for t in ins)
        assert not {t[:3] for t in ins} & set(dels)
        assert any(t[0].startswith("<ent:bench_") for t in ins)  # a brand-new subject
        if O.batch_kind(i) == O.MEDIUM:
            # a medium batch also inserts triples between existing terms
            assert any("bench" not in t[0] and "bench" not in t[2] for t in ins)


def test_zipf_draw_prefers_hubs():
    g = _random_graph()
    ranked = O.candidates(g, (O.DIRECTOR, "o"))
    rng = random.Random(0)
    picks = [O.zipf_pick(rng, ranked) for _ in range(2000)]
    top = picks.count(ranked[0])
    tail = sum(picks.count(c) for c in ranked[len(ranked) // 2:])
    assert top > 2000 / len(ranked) * 3 and tail > 0


def run_all() -> list[str]:
    """Run every test here; return the failures as strings."""
    failures = []
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
            except AssertionError as e:
                failures.append(f"{name}: {e}")
    return failures


if __name__ == "__main__":
    fails = run_all()
    for f in fails:
        print("FAIL", f)
    print("self-test:", "ok" if not fails else f"{len(fails)} failed")
    sys.exit(1 if fails else 0)
