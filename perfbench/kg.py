"""Workload ``kg``: load source files into the encoded store, then a
closed-loop mix of SPARQL reads and writes over it.

The input is one table of ``(repo, path, commit, lang, content)`` rows,
the shape ``tools/submit_job.py --job materialize`` reads from parquet:

* a few large LUBM-shaped N-Triples and Turtle dumps (per-triple parse
  cost; see :mod:`perfbench.lubm`);
* a seed-offset window of small repository files from
  ``jena_spark.sources.synth_row`` (Turtle, N-Triples, TriG, RDF/XML,
  JSON-LD, ~10% non-RDF code, ~3% malformed, and a hot slice whose
  files are mostly ``rdf:type`` triples): per-document overhead and hot
  predicate salting.

Reads go through ``choose_index_encoded`` over the on-disk store.  Writes
chain over one store DataFrame (SPARQL Update and ``rdfpatch``) and over
an on-disk ``p_part``-partitioned quad store (the ``apply_patch_batch``
sink).  Every answer is checked against :class:`perfbench.lubm.Oracle`.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from typing import Callable, Dict, List, Optional, Tuple

from . import lubm
from .harness import Recorder, cpus, dir_bytes, fresh_dir
from .lubm import TYPE, Oracle, lit, ub
from .tracing import Tracer

REPO_FILES = 3000
COMMIT = "0" * 40
READS = ("q_lookup", "q_join", "q_optional", "q_agg", "q_describe", "q_list")
WRITES = ("update_data", "patch_apply", "patch_commit")
CLASSES = READS + WRITES
PREFIX = f"PREFIX ub: <{lubm.UB}>\nPREFIX rdf: <{lubm.RDF}>\n"
SINK_PARTS = 16


def source_rows(seed: int, graph: lubm.Graph, n_repo: int) -> List[tuple]:
    from jena_spark.sources import synth_row

    rows = [("lubm/univ", path, COMMIT, lang, content)
            for path, lang, content in graph.files]
    first = seed * 1_000_003
    for idx in range(first, first + n_repo):
        path, lang, content, _ = synth_row(idx)
        rows.append(("synthetic/bench", path, COMMIT, lang, content))
    return rows


def write_files_table(rows: List[tuple], out_dir: str, parts: int) -> None:
    """Rows → ``parts`` parquet files of similar byte size (largest
    document first into the lightest file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fresh_dir(out_dir)
    bins: List[List[tuple]] = [[] for _ in range(parts)]
    sizes = [0] * parts
    for row in sorted(rows, key=lambda r: (-len(r[4]), r[1])):
        i = sizes.index(min(sizes))
        bins[i].append(row)
        sizes[i] += len(row[4])
    names = ("repo", "path", "commit", "lang", "content")
    for i, b in enumerate(bins):
        cols = {n: [r[k] for r in b] for k, n in enumerate(names)}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{i:05d}.parquet"))


class Inputs:
    def __init__(self, seed: int, work: str, shape: lubm.Shape = lubm.BENCH_SHAPE,
                 n_repo: int = REPO_FILES):
        self.seed, self.shape, self.n_repo = seed, shape, n_repo
        self.files_dir = os.path.join(work, "input", "files")
        self.graph: Optional[lubm.Graph] = None

    def generate(self) -> None:
        self.graph = lubm.generate(self.seed, self.shape)
        rows = source_rows(self.seed, self.graph, self.n_repo)
        write_files_table(rows, self.files_dir, 2 * cpus())


# ---------------------------------------------------------------------------
# load
# ---------------------------------------------------------------------------


def load(spark, files_dir: str, store: str, tr: Tracer, notes: dict) -> None:
    """The product load; traced runs split it at layer boundaries and
    force each layer's output."""
    from pyspark.sql import functions as F

    from jena_spark.extract import detect, extract_triples, run_extraction
    from jena_spark.materialize import materialize_encoded
    from jena_spark.nodetable import build_node_table

    files = spark.read.parquet(files_dir)
    if not tr.enabled:
        materialize_encoded(
            run_extraction(files).select("graph", "subj", "pred", "obj"), store)
        return
    with tr.layer("extract", "load"):
        raw = extract_triples(detect(files)).persist()
        ok = F.col("error").isNull()
        row = raw.agg(
            F.sum(F.when(ok, 1).otherwise(0)).alias("triples"),
            F.sum(F.when(ok, 0).otherwise(1)).alias("errors"),
            F.countDistinct("repo", "path").alias("docs"),
        ).collect()[0]
    notes.update(triples_out=row["triples"], parse_errors=row["errors"],
                 docs_parsed=row["docs"])
    triples = raw.filter(ok).drop("error").select("graph", "subj", "pred", "obj")
    with tr.layer("nodetable", "load"):
        nodes = build_node_table(triples).persist()
        notes["terms"] = nodes.count()
    with tr.layer("materialize", "load"):
        materialize_encoded(triples, store, node_table=nodes)
    nodes.unpersist()
    raw.unpersist()


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, f)).num_rows
               for root, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def store_stats(store: str) -> dict:
    """Triples, bytes and ``p_part`` skew read from the written store."""
    spo = os.path.join(store, "spo")
    per_part = [parquet_rows(os.path.join(spo, d))
                for d in sorted(os.listdir(spo)) if d.startswith("p_part=")]
    triples = sum(per_part)
    total = sum(dir_bytes(os.path.join(store, t))
                for t in ("nodes", "spo", "pos", "osp"))
    return {
        "triples": triples,
        "bytes": total,
        "node_bytes": dir_bytes(os.path.join(store, "nodes")),
        "p_parts": len(per_part),
        "p_part_skew": max(per_part) / statistics.median(per_part),
    }


def check_load(store: str, oracle: Oracle) -> Optional[str]:
    """Per-predicate counts of the LUBM vocabulary, read straight from the
    written node table and SPO files, must match the oracle exactly."""
    import pyarrow.dataset as ds

    nodes = ds.dataset(os.path.join(store, "nodes"), format="parquet").to_table(
        columns=["term", "node_id"]).to_pydict()
    term = dict(zip(nodes["node_id"], nodes["term"]))
    p_ids = ds.dataset(os.path.join(store, "spo"), format="parquet",
                       partitioning="hive").to_table(columns=["p_id"]).column("p_id")
    got = Counter(term.get(i) for i in p_ids.to_pylist())
    want = {p: n for p, n in oracle.pred_counts().items() if p.startswith(f"<{lubm.UB}")}
    bad = {p: (got.get(p), n) for p, n in want.items() if got.get(p) != n}
    return f"wrong answer: predicate counts differ: {bad}" if bad else None


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------


class ReadGen:
    """Query text and expected rows for the k-th sample of a class."""

    def __init__(self, seed: int, graph: lubm.Graph, oracle: Oracle):
        self.g, self.o = graph, oracle
        self.rng = random.Random(seed * 7919 + 1)

    def make(self, cls: str, k: int) -> Tuple[str, str, List[tuple]]:
        g, o, rng = self.g, self.o, self.rng
        dept = rng.choice(g.depts)
        if cls == "q_lookup":
            if k % 2 == 0:
                s = rng.choice(dept.students)
                return "select", f"SELECT ?p ?o WHERE {{ {s} ?p ?o }}", o.po(s)
            q = f"{PREFIX}SELECT ?s WHERE {{ ?s ub:worksFor {dept.iri} }}"
            return "select", q, [(s,) for s in o.subjects(ub("worksFor"), dept.iri)]
        if cls == "q_join":
            q = (f"{PREFIX}SELECT ?x ?n ?c WHERE {{ ?x a ub:UndergraduateStudent . "
                 f"?x ub:memberOf {dept.iri} . ?x ub:takesCourse ?c . ?x ub:name ?n }}")
            return "select", q, [(x, n, c) for x in dept.ugrads
                                 for n in o.objects(x, ub("name"))
                                 for c in o.objects(x, ub("takesCourse"))]
        if cls == "q_optional":
            q = (f"{PREFIX}SELECT ?h ?s WHERE {{ ?h ub:headOf ?d . "
                 f"OPTIONAL {{ ?s ub:advisor ?h }} }}")
            want = []
            for h, _ in o.pairs(ub("headOf")):
                want += [(h, s) for s in o.subjects(ub("advisor"), h)] or [(h, None)]
            return "select", q, want
        if cls == "q_agg":
            q = (f"{PREFIX}SELECT ?d (COUNT(?s) AS ?n) WHERE {{ ?s ub:memberOf ?d }} "
                 f"GROUP BY ?d")
            return "select", q, list(Counter(d for _, d in o.pairs(ub("memberOf"))).items())
        if cls == "q_describe":
            f = rng.choice(dept.faculty)
            rows = [(f, p, x) for p, x in o.po(f)]
            rows += [(b, p, x) for b in o.objects(f, ub("office")) for p, x in o.po(b)]
            return "describe", f"DESCRIBE {f}", rows
        if cls == "q_list":
            q = (f"{PREFIX}SELECT ?item WHERE {{ {dept.list_course} ub:readingList ?l . "
                 f"?l rdf:rest*/rdf:first ?item }}")
            return "select", q, [(x,) for x in g.list_items[dept.list_course]]
        raise ValueError(cls)


def compare(kind: str, rows: list, want: list) -> Optional[str]:
    """``want`` is a list of tuples; for DESCRIBE, of triples."""
    if kind == "describe":
        got = lubm.canonical_description((r[0], r[1], r[2]) for r in rows)
        want = lubm.canonical_description(want)
    else:
        got = sorted((tuple(r) for r in rows), key=repr)
        want = sorted(want, key=repr)
    if got == want:
        return None
    return f"wrong answer: {len(got)} rows, expected {len(want)}"


def run_read(spark, store: str, tr: Tracer, cls: str, kind: str, text: str,
             want: list, timings: list) -> Callable[[], Optional[str]]:
    from jena_spark.materialize import choose_index_encoded
    from jena_spark.ops.sparql import sparql_describe, sparql_select

    with tr.layer("materialize", cls):
        triples = choose_index_encoded(spark, store)
        tr.force(triples)
    rows: list = []
    t0, t1 = time.perf_counter(), None
    try:
        with tr.layer("sparql", cls):
            df = (sparql_describe if kind == "describe" else sparql_select)(triples, text)
            t1 = time.perf_counter()
            rows = df.collect()
    finally:
        # a query that raises while compiling is timed up to the raise
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        timings.append((cls, (t1 - t0) * 1000, (t2 - t1) * 1000, len(rows)))
    return lambda: compare(kind, rows, want)


# ---------------------------------------------------------------------------
# writes
# ---------------------------------------------------------------------------


class Writer:
    """Chained writes over one store DataFrame plus the patch sink.  Each
    ``prepare_<class>`` updates the oracle and returns the timed part: the
    write, then a read of the written subject that checks its effect."""

    def __init__(self, spark, store: str, sink: str, seed: int, graph: lubm.Graph,
                 tr: Tracer, notes: dict):
        from jena_spark.materialize import choose_index_encoded

        self.spark, self.sink, self.tr, self.notes = spark, sink, tr, notes
        self.store_df = choose_index_encoded(spark, store)
        self.oracle = Oracle(graph.triples)
        self.sink_oracle = Oracle(graph.triples)
        self.g = graph
        self.rng = random.Random(seed * 104729 + 3)
        students = [s for d in graph.depts for s in d.students]
        self.rng.shuffle(students)
        self.students = iter(students)

    def _check(self, s: str) -> Callable[[], Optional[str]]:
        """Read the subject's triples back from the new store; a plain
        filter, so the write's latency is not dominated by SPARQL."""
        from pyspark.sql import functions as F

        want = self.oracle.po(s)
        rows = self.store_df.filter(F.col("subj") == s).select("pred", "obj").collect()
        return lambda: compare("select", rows, want)

    def prepare_update_data(self, k: int):
        from jena_spark.ops.update import sparql_update

        o = self.oracle
        if k % 2 == 0:
            s = f"<http://www.Visitors.edu/Visitor{k}>"
            ts = [(s, TYPE, ub("Visitor")), (s, ub("name"), lit(f"Visitor{k}")),
                  (s, ub("memberOf"), self.rng.choice(self.g.depts).iri)]
            o.insert(ts)
            verb = "INSERT"
        else:
            s = next(self.students)
            ts = [(s, ub("telephone"), t) for t in o.objects(s, ub("telephone"))]
            o.delete(ts)
            verb = "DELETE"
        request = f"{verb} DATA {{ " + " ".join(f"{a} {b} {c} ." for a, b, c in ts) + " }"

        def timed():
            with self.tr.layer("update", "update_data"):
                self.store_df = sparql_update(self.store_df, request, assume_distinct=True)
                self.tr.force(self.store_df)
                return self._check(s)

        return timed

    def prepare_patch_apply(self, k: int):
        from jena_spark.rdfpatch import apply_patch, parse_patch

        o = self.oracle
        s = next(self.students)
        add = [(s, ub("nickname"), lit(f"nick{k}"))]
        drop = [(s, ub("telephone"), t) for t in o.objects(s, ub("telephone"))]
        o.insert(add)
        o.delete(drop)
        text = "TX .\n" + "".join(f"A {a} {b} {c} .\n" for a, b, c in add) + "".join(
            f"D {a} {b} {c} .\n" for a, b, c in drop) + "TC .\n"

        def timed():
            with self.tr.layer("rdfpatch", "patch_apply"):
                if self.tr.enabled:
                    t0 = time.perf_counter()
                    log = parse_patch(text)
                    self.notes.setdefault("patch_parse_ms", []).append(
                        (time.perf_counter() - t0) * 1000)
                    self.store_df = apply_patch(self.store_df, log, assume_distinct=True)
                    self.tr.force(self.store_df)
                else:
                    self.store_df = apply_patch(self.store_df, text, assume_distinct=True)
                return self._check(s)

        return timed

    def prepare_patch_commit(self, k: int):
        from pyspark.sql import functions as F

        from jena_spark.streaming import apply_patch_batch

        o = self.sink_oracle
        s = next(self.students)
        add = (s, ub("nickname"), lit(f"sink{k}"))
        drop = [(s, ub("name"), n) for n in o.objects(s, ub("name"))]
        o.insert([add])
        o.delete(drop)
        want = o.po(s)
        batch = self.spark.createDataFrame(
            [(1, "A", None) + add] + [(2 + i, "D", None) + d for i, d in enumerate(drop)],
            "seq long, op string, graph string, subj string, pred string, obj string")
        before = _part_files(self.sink)

        def timed():
            with self.tr.layer("rdfpatch", "patch_commit"):
                apply_patch_batch(self.sink, SINK_PARTS)(batch, k + 1)
                rows = (self.spark.read.parquet(self.sink)
                        .filter(F.col("subj") == s).select("pred", "obj").collect())
            after = _part_files(self.sink)
            dirs = set(before) | set(after)
            self.notes.setdefault("parts_rewritten", []).append(
                sum(before.get(d) != after.get(d) for d in dirs) / len(dirs))
            return lambda: compare("select", rows, want)

        return timed


def _part_files(path: str) -> Dict[str, tuple]:
    return {d: tuple(sorted(os.listdir(os.path.join(path, d))))
            for d in os.listdir(path) if d.startswith("p_part=")}


def seed_sink(spark, store: str, sink: str) -> None:
    """The patch sink's quad store, created by the sink itself from one
    all-add batch of the loaded triples."""
    import shutil

    from pyspark.sql import functions as F

    from jena_spark.materialize import choose_index_encoded
    from jena_spark.streaming import apply_patch_batch

    shutil.rmtree(sink, ignore_errors=True)
    batch = choose_index_encoded(spark, store).select(
        F.lit(None).cast("string").alias("graph"), "subj", "pred", "obj",
        F.lit("A").alias("op"))
    apply_patch_batch(sink, SINK_PARTS)(batch, 0)


# ---------------------------------------------------------------------------
# one pass: load, then rounds of every class
# ---------------------------------------------------------------------------


class Pass:
    """One load of the inputs into a fresh store, then rounds of every op
    class; ``tr`` decides whether the pass is traced."""

    def __init__(self, spark, inputs: Inputs, work: str, name: str, tr: Tracer,
                 rec: Recorder):
        self.spark, self.inputs, self.tr, self.rec = spark, inputs, tr, rec
        self.store = os.path.join(work, f"store-{name}")
        self.sink = os.path.join(work, f"sink-{name}")
        self.notes: dict = {}
        self.timings: list = []
        self.stats: Optional[dict] = None
        self.load_s = self.sink_s = 0.0
        self.load_window = (0.0, 0.0)  # epoch ms
        self.round_s: List[float] = []  # wall time of each round
        self._reads: Optional[ReadGen] = None
        self._writer: Optional[Writer] = None
        self._k_reads = self._k_writes = 0

    def load(self) -> None:
        oracle = Oracle(self.inputs.graph.triples)

        def op() -> Callable[[], Optional[str]]:
            load(self.spark, self.inputs.files_dir, self.store, self.tr, self.notes)
            return lambda: check_load(self.store, oracle)

        t0 = time.time() * 1000
        rec = self.rec.run("load", op)
        self.load_window = (t0, t0 + rec.ms)
        self.load_s = rec.ms / 1000
        if rec.ok:
            self.stats = store_stats(self.store)

    def serve(self, seconds: float) -> None:
        """Rounds of every class until ``seconds`` have passed (at least
        one); ``round_s`` holds each round's wall time."""
        t0 = time.perf_counter()
        while not self.round_s or time.perf_counter() - t0 < seconds:
            self.round_s.append(self.reads() + self.writes())

    def reads(self) -> float:
        """One op of every read class; returns their wall time."""
        if self._reads is None:
            g = self.inputs.graph
            self._reads = ReadGen(self.inputs.seed, g, Oracle(g.triples))
        k = self._k_reads
        self._k_reads += 1
        t0 = time.perf_counter()
        for cls in READS:
            kind, text, want = self._reads.make(cls, k)
            self.rec.run(cls, lambda: run_read(
                self.spark, self.store, self.tr, cls, kind, text, want, self.timings))
        return time.perf_counter() - t0

    def writes(self) -> float:
        """One op of every write class; returns their wall time.  The
        first call seeds the patch sink (untimed, in ``sink_s``)."""
        if self._writer is None:
            t0 = time.perf_counter()
            seed_sink(self.spark, self.store, self.sink)
            self.sink_s = time.perf_counter() - t0
            self._writer = Writer(self.spark, self.store, self.sink, self.inputs.seed,
                                  self.inputs.graph, self.tr, self.notes)
        k = self._k_writes
        self._k_writes += 1
        t0 = time.perf_counter()
        for cls in WRITES:
            self.rec.run(cls, getattr(self._writer, f"prepare_{cls}")(k))
        return time.perf_counter() - t0
