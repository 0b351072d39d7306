"""Seeded LUBM-shaped data generator and a Spark-free oracle.

The generator builds a university graph in the shape of the Lehigh
University Benchmark (universities, departments, faculty, students,
courses, research groups, publications), plus course reading lists
written as Turtle collections of ``Shape.list_len`` items, probed with
``rdf:rest*/rdf:first``.

The graph is kept in memory as canonical term strings (the encoding the
parsers emit: ``<iri>``, ``"lexical"``, ``_:label``) and written out as a
few large N-Triples and Turtle dump files.  The :class:`Oracle` answers
every query and every post-write check from that in-memory set, with no
Spark involved.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

UB = "http://swat.cse.lehigh.edu/onto/univ-bench.owl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
TYPE = f"<{RDF}type>"
FIRST = f"<{RDF}first>"
REST = f"<{RDF}rest>"
NIL = f"<{RDF}nil>"

Triple = Tuple[str, str, str]


def ub(local: str) -> str:
    return f"<{UB}{local}>"


def lit(text: str) -> str:
    return f'"{text}"'


@dataclass(frozen=True)
class Shape:
    """Sizes of one generated graph."""

    universities: int = 3
    depts_per_univ: int = 8
    full_profs: int = 4
    assoc_profs: int = 5
    asst_profs: int = 4
    lecturers: int = 3
    ugrads: int = 60
    grads: int = 15
    courses: int = 10
    grad_courses: int = 6
    groups: int = 6
    pubs_per_faculty: int = 2
    # one reading list per department; 64 items is past the closure's
    # default 50-round limit
    list_len: int = 64
    nt_dumps: int = 3
    ttl_dumps: int = 3


BENCH_SHAPE = Shape()
TINY_SHAPE = Shape(
    universities=1, depts_per_univ=2, full_profs=2, assoc_profs=2,
    asst_profs=1, lecturers=1, ugrads=6, grads=3, courses=3,
    grad_courses=1, groups=3, pubs_per_faculty=1, list_len=5, nt_dumps=1,
    ttl_dumps=1,
)


@dataclass
class Dept:
    iri: str
    faculty: List[str]
    students: List[str]
    ugrads: List[str]
    list_course: str


@dataclass
class Graph:
    triples: List[Triple]
    depts: List[Dept]
    files: List[Tuple[str, str, str]]  # (path, lang, content)
    list_items: Dict[str, List[str]]  # reading-list items by course


def generate(seed: int, shape: Shape = BENCH_SHAPE) -> Graph:
    """Deterministic graph + dump files for ``seed``."""
    rng = random.Random(seed)
    per_dump: Dict[int, List[Triple]] = defaultdict(list)
    n_dumps = shape.nt_dumps + shape.ttl_dumps
    depts: List[Dept] = []
    list_items: Dict[str, List[str]] = {}
    bnode = [0]

    def fresh(prefix: str) -> str:
        bnode[0] += 1
        return f"_:{prefix}{bnode[0]}"

    n_dept = 0
    univ_triples: List[Triple] = []
    for u in range(shape.universities):
        univ = f"<http://www.University{u}.edu>"
        univ_triples += [(univ, TYPE, ub("University")),
                         (univ, ub("name"), lit(f"University{u}"))]
        for d in range(shape.depts_per_univ):
            dump = n_dept % n_dumps
            n_dept += 1
            out = per_dump[dump]
            base = f"http://www.Department{d}.University{u}.edu"
            dept = f"<{base}>"
            out += [(dept, TYPE, ub("Department")),
                    (dept, ub("name"), lit(f"Department{d}")),
                    (dept, ub("subOrganizationOf"), univ)]
            courses = [f"<{base}/Course{i}>" for i in range(shape.courses)]
            gcourses = [f"<{base}/GraduateCourse{i}>"
                        for i in range(shape.grad_courses)]
            for i, c in enumerate(courses):
                out += [(c, TYPE, ub("Course")), (c, ub("name"), lit(f"Course{i}"))]
            for i, c in enumerate(gcourses):
                out += [(c, TYPE, ub("GraduateCourse")),
                        (c, ub("name"), lit(f"GraduateCourse{i}"))]
            groups = [f"<{base}/ResearchGroup{i}>" for i in range(shape.groups)]
            for i, g in enumerate(groups):
                # every other group nests under an earlier one: depth 3
                parent = groups[i // 2] if i % 2 and i > 1 else dept
                out += [(g, TYPE, ub("ResearchGroup")),
                        (g, ub("subOrganizationOf"), parent)]
            faculty: List[str] = []
            for kind, n in (("FullProfessor", shape.full_profs),
                            ("AssociateProfessor", shape.assoc_profs),
                            ("AssistantProfessor", shape.asst_profs),
                            ("Lecturer", shape.lecturers)):
                for i in range(n):
                    f = f"<{base}/{kind}{i}>"
                    faculty.append(f)
                    office = fresh("o")
                    out += [
                        (f, TYPE, ub(kind)),
                        (f, ub("name"), lit(f"{kind}{i}")),
                        (f, ub("emailAddress"), lit(f"{kind}{i}@Department{d}.University{u}.edu")),
                        (f, ub("telephone"), lit(f"{rng.randrange(10**9):09d}")),
                        (f, ub("worksFor"), dept),
                        (f, ub("undergraduateDegreeFrom"),
                         f"<http://www.University{rng.randrange(shape.universities)}.edu>"),
                        (f, ub("office"), office),
                        (office, ub("building"), lit(f"B{rng.randrange(20)}")),
                        (office, ub("room"), lit(str(rng.randrange(100, 500)))),
                    ]
                    for p in range(shape.pubs_per_faculty):
                        pub = f"<{base}/{kind}{i}/Publication{p}>"
                        out += [(pub, TYPE, ub("Publication")),
                                (pub, ub("name"), lit(f"Publication{p}")),
                                (pub, ub("publicationAuthor"), f)]
            head = faculty[0]
            out.append((head, ub("headOf"), dept))
            all_courses = courses + gcourses
            for j, c in enumerate(all_courses):
                out.append((faculty[j % len(faculty)], ub("teacherOf"), c))
            # heads of even-numbered departments advise nobody, so the
            # OPTIONAL probe sees matched and unmatched heads
            advisors = faculty[1:] if n_dept % 2 else faculty
            ugrads: List[str] = []
            students: List[str] = []
            for kind, n, pool in (("UndergraduateStudent", shape.ugrads, courses),
                                  ("GraduateStudent", shape.grads, gcourses)):
                for i in range(n):
                    s = f"<{base}/{kind}{i}>"
                    students.append(s)
                    if kind == "UndergraduateStudent":
                        ugrads.append(s)
                    out += [
                        (s, TYPE, ub(kind)),
                        (s, ub("name"), lit(f"{kind}{i}")),
                        (s, ub("emailAddress"), lit(f"{kind}{i}@Department{d}.University{u}.edu")),
                        (s, ub("telephone"), lit(f"{rng.randrange(10**9):09d}")),
                        (s, ub("memberOf"), dept),
                    ]
                    for c in rng.sample(pool, min(2, len(pool))):
                        out.append((s, ub("takesCourse"), c))
                    if kind == "GraduateStudent" or rng.random() < 0.5:
                        out.append((s, ub("advisor"), rng.choice(advisors)))
            depts.append(Dept(dept, faculty, students, ugrads, courses[0]))
    per_dump[0] += univ_triples
    # one reading list per department, always in a Turtle dump, of
    # distinct publications from the whole graph
    pubs = sorted(t[0] for ts in per_dump.values() for t in ts
                  if t[1] == TYPE and t[2] == ub("Publication"))
    for n, d in enumerate(depts):
        items = rng.sample(pubs, shape.list_len)
        cells = [fresh("l") for _ in items]
        lt = per_dump[shape.nt_dumps + n % shape.ttl_dumps]
        lt.append((d.list_course, ub("readingList"), cells[0]))
        for k, (cell, item) in enumerate(zip(cells, items)):
            nxt = cells[k + 1] if k + 1 < len(cells) else NIL
            lt += [(cell, FIRST, item), (cell, REST, nxt)]
        list_items[d.list_course] = items

    triples: List[Triple] = []
    files: List[Tuple[str, str, str]] = []
    for i in range(n_dumps):
        ts = per_dump[i]
        triples += ts
        if i < shape.nt_dumps:
            files.append((f"dumps/lubm-{i}.nt", "ntriples", to_ntriples(ts)))
        else:
            files.append((f"dumps/lubm-{i}.ttl", "turtle", to_turtle(ts)))
    return Graph(triples, depts, files, list_items)


def to_ntriples(triples: Iterable[Triple]) -> str:
    return "".join(f"{s} {p} {o} .\n" for s, p, o in triples)


def _ttl_term(t: str) -> str:
    if t.startswith(f"<{UB}"):
        return "ub:" + t[len(UB) + 1:-1]
    if t == TYPE:
        return "a"
    return t


def to_turtle(triples: Sequence[Triple]) -> str:
    """Turtle with prefixes and ``;`` groups; blank nodes that are the
    object of exactly one triple are nested inline: ``[ ... ]`` for
    property lists and ``( ... )`` for well-formed collections."""
    by_subj: Dict[str, List[Tuple[str, str]]] = defaultdict(list)
    for s, p, o in triples:
        by_subj[s].append((p, o))
    obj_uses = Counter(o for _, _, o in triples if o.startswith("_:"))

    def collection(cell: str) -> Optional[List[str]]:
        items = []
        while cell != NIL:
            po = dict(by_subj.get(cell, ()))
            if set(po) != {FIRST, REST} or len(by_subj[cell]) != 2:
                return None
            items.append(po[FIRST])
            cell = po[REST]
        return items

    def obj(o: str) -> str:
        if o.startswith("_:") and obj_uses[o] == 1 and o in by_subj:
            items = collection(o)
            if items is not None:
                return "( " + " ".join(_ttl_term(x) for x in items) + " )"
            return "[ " + " ; ".join(
                f"{_ttl_term(p)} {obj(x)}" for p, x in by_subj[o]) + " ]"
        return _ttl_term(o)

    lines = [f"@prefix ub: <{UB}> .", f"@prefix rdf: <{RDF}> .", ""]
    for s, pos in by_subj.items():
        if s.startswith("_:") and obj_uses[s] == 1:
            continue  # written inline at its single use
        body = " ;\n    ".join(f"{_ttl_term(p)} {obj(o)}" for p, o in pos)
        lines.append(f"{s} {body} .")
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


class Oracle:
    """Answers over a mutable triple set (the default graph)."""

    def __init__(self, triples: Iterable[Triple]):
        self.by_subj: Dict[str, Set[Tuple[str, str]]] = defaultdict(set)
        self.by_pred: Dict[str, Set[Tuple[str, str]]] = defaultdict(set)
        self.insert(triples)

    # -- writes -----------------------------------------------------------
    def insert(self, ts: Iterable[Triple]) -> None:
        for s, p, o in ts:
            self.by_subj[s].add((p, o))
            self.by_pred[p].add((s, o))

    def delete(self, ts: Iterable[Triple]) -> None:
        for s, p, o in ts:
            self.by_subj[s].discard((p, o))
            self.by_pred[p].discard((s, o))

    # -- reads ------------------------------------------------------------
    def po(self, s: str) -> List[Tuple[str, str]]:
        return list(self.by_subj.get(s, ()))

    def objects(self, s: str, p: str) -> List[str]:
        return [o for p2, o in self.by_subj.get(s, ()) if p2 == p]

    def subjects(self, p: str, o: str) -> List[str]:
        return [s for s, o2 in self.by_pred.get(p, ()) if o2 == o]

    def pairs(self, p: str) -> List[Tuple[str, str]]:
        return list(self.by_pred.get(p, ()))

    def pred_counts(self) -> Counter:
        return Counter({p: len(so) for p, so in self.by_pred.items() if so})


def canonical_description(rows: Iterable[Triple]) -> List[tuple]:
    """A DESCRIBE result with blank nodes replaced by the sorted
    (predicate, object) pairs they carry, so two graphs that differ only
    in blank-node labels compare equal."""
    rows = list(rows)
    by_bnode: Dict[str, List[Tuple[str, str]]] = defaultdict(list)
    for s, p, o in rows:
        if s.startswith("_:"):
            by_bnode[s].append((p, o))

    def term(t: str) -> object:
        return ("bnode", tuple(sorted(by_bnode.get(t, ())))) if t.startswith("_:") else t

    return sorted(
        (str(term(s)), p, str(term(o))) for s, p, o in rows
    )
