"""Workload ``doc_analytics``: the document operators of ``pipelines/``
and blocked-Levenshtein entity linking over seeded tables.

Inputs are generated from the seed in the shape of the repository's test
tables (``documents``, ``embeddings``, ``customer``, ``supplier``) and
written as parquet.  Each op runs one declared query of
``__spark_entry__.queries()`` and is checked against its
``oracle_sql()`` mirror in DuckDB over the same files.  No parser or
store is involved.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter
from typing import Callable, Dict, List, Optional

from .harness import fresh_dir
from .tracing import Tracer

# op class -> (declared query name, layer)
OPS = {
    "minhash_pairs": ("dedup_minhash_pairs", "dedup"),
    "jaccard_verify": ("dedup_jaccard", "dedup"),
    "simhash": ("dedup_simhash", "dedup"),
    "text_profile": ("text_profile", "textstats"),
    "ann_topk": ("ann_topk", "similarity"),
    "link_blocked": ("link_blocked_levenshtein", "linking"),
}
CLASSES = tuple(OPS)
# corpus-wide batch operators (the bulk step) and the rest (the rounds)
BULK = ("minhash_pairs", "jaccard_verify", "simhash")
SERVE = ("text_profile", "ann_topk", "link_blocked")
MIXED = tuple(c for pair in zip(BULK, SERVE) for c in pair)
JACCARD_NEAR_DUP = 0.5

WORDS = (
    "spark column row line query big fast data stream window table order "
    "customer part vector small merge value scan join hash key filter agg "
    "batch sort slow index group graph node edge store cache shard"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


class Sizes:
    def __init__(self, docs=1200, vectors=600, customers=2000, suppliers=200):
        self.docs, self.vectors = docs, vectors
        self.customers, self.suppliers = customers, suppliers


BENCH_SIZES = Sizes()
TINY_SIZES = Sizes(docs=120, vectors=80, customers=200, suppliers=40)


def generate_tables(seed: int, out_dir: str, sizes: Sizes = BENCH_SIZES) -> None:
    """documents / embeddings / customer / supplier parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    fresh_dir(out_dir)
    texts: List[str] = []
    for i in range(sizes.docs):
        if texts and rng.random() < 0.08:
            # near-duplicate of an earlier document: a couple of words changed
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    docs = {
        "doc_id": list(range(sizes.docs)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(sizes.docs)],
        "n_chars": [len(t) for t in texts],
    }
    pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))

    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(sizes.vectors)]
    vecs = [[c + rng.gauss(0, 0.6) for c in centers[lab]] for lab in labels]
    emb = pa.table({
        "vec_id": pa.array(range(sizes.vectors), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    cust = sorted(rng.sample(range(10**6), sizes.customers))
    supp = sorted(rng.sample(range(10**6), sizes.suppliers))
    pq.write_table(pa.table({
        "c_custkey": pa.array(cust, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in cust],
    }), os.path.join(out_dir, "customer.parquet"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(supp, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in supp],
    }), os.path.join(out_dir, "supplier.parquet"))


def link_candidates(table_dir: str) -> int:
    """Customer × supplier pairs that share a block (the last three
    digits of the name), i.e. the pairs the linker scores."""
    import pyarrow.parquet as pq

    def blocks(t: str, col: str) -> Counter:
        names = pq.read_table(os.path.join(table_dir, f"{t}.parquet"), columns=[col])
        return Counter(n[-3:] for n in names.column(col).to_pylist())

    c, s = blocks("customer", "c_name"), blocks("supplier", "s_name")
    return sum(n * s[b] for b, n in c.items())


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def canon(columns: List[str], rows: List[tuple]) -> List[tuple]:
    """Order-insensitive rows over sorted column names; floats to six
    significant digits (the parity harness's rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v + 0.0:.6g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def duckdb_answers(table_dir: str) -> Dict[str, tuple]:
    """(sorted column names, canonical rows) per declared query."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    # one thread: the oracle runs beside the Spark warm-up pass
    con.execute("SET threads TO 1")
    for t in ("documents", "embeddings", "customer", "supplier"):
        p = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for cls, (name, _) in OPS.items():
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        out[cls] = (sorted(cols), canon(cols, cur.fetchall()))
    con.close()
    return out


# ---------------------------------------------------------------------------
# ops
# ---------------------------------------------------------------------------


class Analytics:
    def __init__(self, spark, table_dir: str):
        import __spark_entry__ as entry

        self.spark, self.table_dir = spark, table_dir
        self.queries = entry.queries()
        self.answers: Dict[str, tuple] = {}
        self.notes: Dict[str, List[float]] = {}

    def prepare_oracle(self) -> None:
        self.answers = duckdb_answers(self.table_dir)

    def op(self, cls: str, tr: Tracer) -> Callable[[], Optional[str]]:
        """Run one op; returns the deferred correctness check."""
        name, layer = OPS[cls]
        with tr.layer(layer, cls):
            df = self.queries[name](self.spark, self.table_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        if tr.enabled:
            n = len(rows)
            if cls == "jaccard_verify":
                n = sum(r[cols.index("jaccard")] >= JACCARD_NEAR_DUP for r in rows)
            self.notes.setdefault(cls, []).append(n)

        def check() -> Optional[str]:
            want_cols, want = self.answers[cls]
            if sorted(cols) != want_cols:
                return f"columns {sorted(cols)} != {want_cols}"
            got = canon(cols, rows)
            if got != want:
                return f"wrong answer: {len(got)} rows, expected {len(want)}"
            return None

        return check
