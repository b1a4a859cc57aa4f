"""Inputs and oracles for the store benchmark, independent of the code under test.

Everything here is plain Python plus DuckDB: the SPARQL query templates (each
rendered both as SPARQL text for the program and as SQL for DuckDB), the
seeded draws of query constants and update batches, and the answer check.

The oracle is set-semantic: an RDF graph is a set of triples, so the SQL runs
over the DISTINCT (s, p, o) set, and answers are compared as multisets of
rows over every column.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pandas as pd

# answers are collected with a LIMIT of this plus one row; a larger answer fails
ROW_BOUND = 200_000

DIRECTOR = "<rel:director>"
STARRING = "<rel:starring>"
SPOUSE = "<rel:spouse>"
NAME = "<rel:name>"
BIRTHPLACE = "<rel:birthPlace>"
PREDICATES = (DIRECTOR, STARRING, SPOUSE, NAME, BIRTHPLACE)

# Zipf exponent of the constant draw over entities ranked by degree
ZIPF_S = 1.1


@dataclass(frozen=True)
class Template:
    """A SPARQL shape with one constant slot ``<C>``.

    ``patterns`` are (s, p, o) with ``?var`` variables; ``optional`` is one
    pattern evaluated as OPTIONAL; ``filter_ne`` is a variable that must not
    equal the constant. ``slot`` names where candidate constants come from:
    (predicate, "s" or "o") — the constant is a subject or an object of that
    predicate in the graph."""

    name: str
    form: str  # "select" | "ask"
    patterns: tuple
    slot: tuple
    optional: tuple | None = None
    filter_ne: str | None = None
    projection: tuple = field(default=())


TEMPLATES = (
    Template("point", "select", (("<C>", "?p", "?o"),), slot=(None, "s"),
             projection=("?p", "?o")),
    Template("star", "select",
             (("?f", DIRECTOR, "<C>"), ("?f", STARRING, "?a"), ("?f", NAME, "?n")),
             slot=(DIRECTOR, "o"), projection=("?f", "?a", "?n")),
    Template("chain", "select",
             (("?f", DIRECTOR, "<C>"), ("?f", STARRING, "?a"), ("?a", SPOUSE, "?s")),
             slot=(DIRECTOR, "o"), projection=("?f", "?a", "?s")),
    Template("cycle", "select",
             (("?f", DIRECTOR, "<C>"), ("?f", STARRING, "?a"), ("?a", SPOUSE, "<C>")),
             slot=(SPOUSE, "o"), projection=("?f", "?a")),
    Template("ask", "ask",
             (("<C>", SPOUSE, "?x"), ("?x", BIRTHPLACE, "?c")),
             slot=(SPOUSE, "s")),
    Template("optional_filter", "select",
             (("?f", DIRECTOR, "<C>"), ("?f", STARRING, "?a")),
             slot=(DIRECTOR, "o"), optional=("?a", BIRTHPLACE, "?c"),
             filter_ne="?a", projection=("?f", "?a", "?c")),
)
TEMPLATE_NAMES = tuple(t.name for t in TEMPLATES)
BY_NAME = {t.name: t for t in TEMPLATES}


def _bind(term: str, const: str) -> str:
    return const if term == "<C>" else term


def sparql_text(t: Template, const: str) -> str:
    def triple(pat):
        return " ".join(_bind(x, const) for x in pat)

    body = " . ".join(triple(p) for p in t.patterns)
    if t.optional is not None:
        body += f" OPTIONAL {{ {triple(t.optional)} }}"
    if t.filter_ne is not None:
        body += f" FILTER({t.filter_ne} != {const})"
    if t.form == "ask":
        return f"ASK {{ {body} }}"
    return f"SELECT {' '.join(t.projection)} WHERE {{ {body} }}"


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def sql_text(t: Template, const: str) -> str:
    """The same query as DuckDB SQL over ``g(s, p, o)`` (a set of triples).

    The required patterns become one derived relation ``r`` with a column per
    variable: each pattern is an aliased scan of ``g``, a repeated variable an
    equality, a constant a filter. OPTIONAL is a LEFT JOIN of ``g`` whose ON
    clause carries the optional pattern's constants and shared variables;
    FILTER and the projection apply on top."""
    binds: dict[str, str] = {}
    where: list[str] = []
    froms: list[str] = []
    for i, pat in enumerate(t.patterns):
        froms.append(f"g t{i}")
        for col, term in zip("spo", pat):
            term = _bind(term, const)
            ref = f"t{i}.{col}"
            if not term.startswith("?"):
                where.append(f"{ref} = {_lit(term)}")
            elif term in binds:
                where.append(f"{binds[term]} = {ref}")
            else:
                binds[term] = ref
    cond = (" WHERE " + " AND ".join(where)) if where else ""
    required = (
        "SELECT " + ", ".join(f"{ref} AS {v[1:]}" for v, ref in binds.items())
        + f" FROM {', '.join(froms)}{cond}"
    )
    refs = {v: f"r.{v[1:]}" for v in binds}
    joins = ""
    if t.optional is not None:
        on: list[str] = []
        for col, term in zip("spo", t.optional):
            term = _bind(term, const)
            ref = f"opt.{col}"
            if not term.startswith("?"):
                on.append(f"{ref} = {_lit(term)}")
            elif term in refs:
                on.append(f"{refs[term]} = {ref}")
            else:
                refs[term] = ref
        joins = f" LEFT JOIN g opt ON {' AND '.join(on)}"
    filt = f" WHERE {refs[t.filter_ne]} <> {_lit(const)}" if t.filter_ne else ""
    body = f"FROM ({required}) AS r{joins}{filt}"
    if t.form == "ask":
        return f"SELECT EXISTS (SELECT 1 {body}) AS ask"
    return "SELECT " + ", ".join(f"{refs[v]} AS {v[1:]}" for v in t.projection) + f" {body}"


class Oracle:
    """A DuckDB connection holding the current triple set as table ``g``."""

    def __init__(self, triples):
        self.triples: set[tuple[str, str, str]] = set(triples)
        self.con = duckdb.connect()
        self._load()

    def _load(self):
        rows = pd.DataFrame(sorted(self.triples), columns=["s", "p", "o"], dtype=object)
        self.con.register("rows", rows)
        self.con.execute(
            "CREATE OR REPLACE TABLE g AS SELECT s::VARCHAR AS s, p::VARCHAR AS p, "
            "o::VARCHAR AS o FROM rows")
        self.con.unregister("rows")

    def apply(self, inserts, deletes):
        """Set semantics: inserts add, deletes remove (the two are disjoint)."""
        self.triples |= {t[:3] for t in inserts}
        self.triples -= {t[:3] for t in deletes}
        self._load()

    def answer(self, t: Template, const: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql_text(t, const))
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        if t.form == "ask":
            # the program's ASK is a zero-or-one row relation (ask = true)
            return ["ask"], [(True,)] if rows[0][0] else []
        return cols, rows

    def close(self):
        self.con.close()


def multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(r[i] for i in order) for r in rows)


def classify(got_cols, got_rows, want_cols, want_rows) -> str:
    """"ok" when the answers are equal multisets over every column;
    "dup" when the answer holds exactly the right distinct rows, each at least
    as often as it should (the signature of counting a duplicated stored
    triple more than once); "wrong" for anything else. "dup" and "wrong" are
    both wrong answers."""
    if sorted(got_cols) != sorted(want_cols):
        return "wrong"
    got, want = multiset(got_cols, got_rows), multiset(want_cols, want_rows)
    if got == want:
        return "ok"
    if set(got) == set(want) and all(got[k] >= n for k, n in want.items()):
        return "dup"
    return "wrong"


# -- seeded draws ------------------------------------------------------------

# The corpus window of a run: N_DOCS documents, with the corpus's own entity
# count for that many (default_entities). 2000 documents give about 21k
# stored triple rows. Measured on a 4-core host, 400 and 2000 documents cost
# the same run time (fixed Spark job overhead dominates); at 5000 a query_mix
# round takes about 17 s instead of 11-13 s, and a run of either workload
# grows past the minute this benchmark allows.
N_DOCS = 2000
# The corpus dates document i 137 * i seconds after 2024-01-01, so windows
# far out would overflow pandas timestamps (year 2262) or Python dates (9999);
# WINDOWS keeps every page before 2111.
WINDOWS = 10_000


def corpus_window(seed: int) -> range:
    """The documents of a run: window ``seed mod WINDOWS``, for any seed."""
    lo = (seed % WINDOWS) * N_DOCS
    return range(lo, lo + N_DOCS)



def degrees(triples) -> Counter:
    deg: Counter = Counter()
    for s, _, o in triples:
        deg[s] += 1
        if o.startswith("<"):
            deg[o] += 1
    return deg


def candidates(triples, slot) -> list[str]:
    """Constants for a template slot, ranked by degree (highest first), ties
    broken by term so the ranking is a pure function of the triple set."""
    pred, role = slot
    pool = {
        (s if role == "s" else o)
        for s, p, o in triples
        if (pred is None or p == pred)
    }
    deg = degrees(triples)
    return sorted((c for c in pool if c.startswith("<")), key=lambda c: (-deg[c], c))


def zipf_pick(rng: random.Random, ranked: list[str]) -> str:
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))]
    return rng.choices(ranked, weights=weights, k=1)[0]


def query_plan(triples, seed: int, n: int) -> list[tuple[Template, str]]:
    """The first ``n`` queries of the mix: templates round-robin in a seeded
    order, each constant drawn Zipf-skewed over entity degree."""
    rng = random.Random(f"query_mix:{seed}")
    order = list(TEMPLATES)
    rng.shuffle(order)
    ranked = {t.name: candidates(triples, t.slot) for t in TEMPLATES}
    return [
        (t, zipf_pick(rng, ranked[t.name]))
        for t in (order[i % len(order)] for i in range(n))
    ]


SMALL, MEDIUM = "small", "medium"


def batch_kind(i: int) -> str:
    """Batches alternate medium (about 50 triples) and small (2-5), medium
    first in every run, so runs of equal length apply the same kinds. A run
    too short for a second batch applies one medium batch: it costs the same
    fixed per-batch jobs as a small one and also rewrites most of the store,
    the write amplification the update mix is there to show."""
    return MEDIUM if i % 2 == 0 else SMALL


def update_batch(triples, seed: int, i: int):
    """Batch ``i`` of the update mix against the current triple set.

    Returns (inserts, deletes): inserts are (s, p, o, o_is_entity) tuples not
    in the set, deletes are (s, p, o) tuples in it; the two are disjoint.
    Every batch both deletes and inserts, and its first insert has a
    brand-new subject, so every batch takes the same update code paths
    (dictionary growth included); the other inserts mix existing and new
    terms."""
    rng = random.Random(f"update_mix:{seed}:{i}")
    size = rng.randint(2, 5) if batch_kind(i) == SMALL else rng.randint(45, 55)
    present = sorted(triples)
    deletes = rng.sample(present, size // 2)
    entities = sorted({s for s, _, _ in present} | {o for _, _, o in present if o.startswith("<")})
    inserts: dict[tuple, tuple] = {}
    k = 0
    while len(inserts) < size - len(deletes):
        k += 1
        new = f"<ent:bench_{seed}_{i}_{k}>"
        subj = new if not inserts or rng.random() < 0.3 else rng.choice(entities)
        pred = rng.choice(PREDICATES)
        if pred == NAME:
            obj, is_ent = f'"bench {seed} {i} {k}"@en', False
        else:
            obj, is_ent = (new if rng.random() < 0.3 else rng.choice(entities)), True
        if (subj, pred, obj) not in triples:
            inserts[(subj, pred, obj)] = (subj, pred, obj, is_ent)
    return sorted(inserts.values()), sorted(deletes)


def read_back(inserts, deletes, seed: int, i: int) -> tuple[Template, str]:
    """The read-your-writes query after batch ``i``: a point lookup on the
    subject of one changed triple."""
    rng = random.Random(f"read_back:{seed}:{i}")
    changed = sorted({t[0] for t in inserts} | {t[0] for t in deletes})
    return BY_NAME["point"], rng.choice(changed)
