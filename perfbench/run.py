"""Benchmark entry point.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Builds the workload's inputs from the
seed, runs it on ``local[<cpus>]`` with one closed-loop client, checks
every answer, and prints two JSON lines: a run record (every op class
with its latency and sample count, failed ops by class and error, input
sizes, noise probe) and, last, the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` the per-layer set.

End-to-end metrics (every workload reports each one):

* ``setup_s``: median of three set-ups (session start, warm-up, input
  generation); the first also starts the JVM.
* ``bulk_s``: the workload's batch step.  ``kg``: median of the run's
  loads of all source files into a fresh store, the first of them on a
  cold session.  ``doc_analytics``: the corpus-wide dedup operators
  (MinHash pairs, Jaccard verify, SimHash) of a warm pass.
* ``serve_s``: wall time of one op of each of the other classes (``kg``:
  the SPARQL reads, then after the second load the writes with their
  check reads; ``doc_analytics``: text profile, ANN top-k, blocked
  linking, alternating with the dedup ops).

Samples repeat until ``--seconds`` have passed; at the minimum a ``kg``
run loads twice and makes one round, and a ``doc_analytics`` run makes
an untimed warm-up pass (beside the DuckDB oracle) and one timed pass.

Per-class latencies (median, sample count) and the geometric mean over
classes are in the run record, not in the result line: single op
latencies of one to four seconds vary too much from run to run here to
gate on.

A traced run warms up untraced (``kg``: a load and a round;
``doc_analytics``: one pass), then makes one traced pass and one
untraced pass of the same ops (for ``kg`` each after its own load);
``trace.overhead_ratio`` is the traced wall time over the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

WORKLOADS = ("kg", "doc_analytics")


def _per_layer_spec():
    from perfbench.kg import READS
    from perfbench.tracing import LAYERS

    spec = []
    generic = (("wall_s", "s"), ("task_run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
               ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
               ("jobs", "count"), ("stages", "count"))
    for layer in LAYERS:
        spec += [(f"{layer}.{k}", u, "lower") for k, u in generic]
    spec += [
        ("extract.docs_parsed", "count", "higher"),
        ("extract.parse_errors", "count", "lower"),
        ("extract.triples_out", "count", "higher"),
        ("extract.parse_passes", "count", "lower"),
        ("nodetable.terms", "count", "lower"),
        ("nodetable.table_bytes", "bytes", "lower"),
        ("materialize.dedup_ratio", "ratio", "higher"),
        ("materialize.bytes_written", "bytes", "lower"),
        ("materialize.p_part_skew", "ratio", "lower"),
        ("materialize.partitions_read_ratio", "ratio", "lower"),
        ("materialize.rows_scanned_per_row", "ratio", "lower"),
    ]
    spec += [(f"sparql.compile_ms.{c}", "ms", "lower") for c in READS]
    spec += [(f"sparql.exec_ms.{c}", "ms", "lower") for c in READS]
    spec += [
        ("sparql.jobs_per_query", "count", "lower"),
        ("sparql.jobs_per_query.q_list", "count", "lower"),
        ("update.jobs_per_op", "count", "lower"),
        ("update.store_shuffle_bytes_per_op", "bytes", "lower"),
        ("rdfpatch.parse_ms", "ms", "lower"),
        ("rdfpatch.partitions_rewritten_ratio", "ratio", "lower"),
        ("dedup.candidates", "count", "lower"),
        ("dedup.verified_pairs", "count", "higher"),
        ("dedup.verify_useful_ratio", "ratio", "higher"),
        ("linking.candidates", "count", "lower"),
        ("linking.linked_ratio", "ratio", "higher"),
        ("session.jvm_start_s", "s", "lower"),
        ("session.worker_warmup_s", "s", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
        ("trace.layer_coverage", "ratio", "higher"),
    ]
    return spec


END_TO_END = (("setup_s", "s"), ("bulk_s", "s"), ("serve_s", "s"))


def end_to_end(setup, bulk: list, serve: list) -> dict:
    return {"setup_s": statistics.median(setup.times),
            "bulk_s": statistics.median(bulk), "serve_s": statistics.median(serve)}


def op_geomean_ms(ops) -> float:
    from perfbench.harness import geomean

    by_cls = {}
    for r in ops:
        by_cls.setdefault(r.cls, []).append(r.ms)
    return geomean([statistics.median(v) for v in by_cls.values()])


@dataclass
class Outcome:
    setup: object
    rec: object
    metrics: dict = None  # end-to-end values (untraced runs)
    traced: tuple = None  # what the per-layer fold needs (traced runs)
    sizes: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)  # headline metrics by name
    phases: dict = field(default_factory=dict)  # wall seconds per phase


def op_report(rec) -> dict:
    from perfbench.harness import latency_summary

    out = {}
    for cls, recs in rec.by_class().items():
        out[cls] = dict(latency_summary([r.ms for r in recs]), unit="ms",
                        failed=sum(not r.ok for r in recs))
    return out


def failures(rec) -> list:
    seen = {}
    for r in rec.ops:
        if not r.ok:
            seen[(r.cls, r.error)] = seen.get((r.cls, r.error), 0) + 1
    return [{"class": c, "error": e, "count": n} for (c, e), n in seen.items()]


# ---------------------------------------------------------------------------
# kg
# ---------------------------------------------------------------------------


def run_kg(args, work: str):
    from perfbench import harness, kg, tracing

    inputs = kg.Inputs(args.seed, work)
    setup = harness.set_up(inputs.generate)
    spark = setup.spark
    rec = harness.Recorder()
    g = inputs.graph
    sizes = {
        "files": len(g.files) + inputs.n_repo,
        "dump_files": len(g.files),
        "repo_files": inputs.n_repo,
        "lubm_triples": len(g.triples),
        "list_len": inputs.shape.list_len,
    }
    out = Outcome(setup, rec, sizes=sizes)
    off = tracing.Tracer(spark, enabled=False)
    t0 = time.perf_counter()
    bulk = kg.Pass(spark, inputs, work, "bulk", off, rec)
    bulk.load()
    if bulk.stats:
        sizes.update(store_triples=bulk.stats["triples"],
                     node_table_bytes=bulk.stats["node_bytes"],
                     store_bytes=bulk.stats["bytes"])
    loads = [bulk.load_s]
    if not args.trace:
        # Each round's reads and writes sit on either side of another
        # load, so neither metric rests on one stretch of the run.
        n0 = len(rec.ops)
        while len(loads) < 2 or time.perf_counter() - t0 < args.seconds:
            reads_s = bulk.reads()
            again = kg.Pass(spark, inputs, work, f"load{len(loads)}", off, rec)
            again.load()
            loads.append(again.load_s)
            shutil.rmtree(again.store, ignore_errors=True)
            bulk.round_s.append(reads_s + bulk.writes())
        out.phases.update(loads=loads, sink_seed=bulk.sink_s, rounds=bulk.round_s)
        out.named["op_geomean_ms"] = {
            "value": op_geomean_ms([r for r in rec.ops[n0:] if r.cls != "load"]),
            "unit": "ms"}
        out.metrics = end_to_end(setup, loads, bulk.round_s)
    st = bulk.stats or {}
    out.named.update(
        load_triples_per_s={"value": st.get("triples", 0) / statistics.median(loads),
                            "unit": "triples/s"},
        store_bytes_per_triple={"value": st["bytes"] / st["triples"] if st else 0,
                                "unit": "bytes/triple"})
    if not args.trace:
        return out
    bulk.serve(0)  # warms the query plans before the traced pass
    traced = kg.Pass(spark, inputs, work, "traced",
                     tracing.Tracer(spark, enabled=True), rec)
    traced.load()
    traced.serve(0)
    plain = kg.Pass(spark, inputs, work, "plain", off, rec)
    plain.load()
    plain.serve(0)
    out.traced = (traced, plain)
    return out


def kg_layers(traced, plain, folded) -> dict:
    from perfbench import tracing
    from perfbench.kg import READS

    tr = traced.tr
    out = {}
    for layer, tot in tracing.layer_totals(folded, tr).items():
        for k, v in tot.items():
            out[f"{layer}.{k}"] = v
    n = traced.notes
    out["extract.docs_parsed"] = n.get("docs_parsed", 0)
    out["extract.parse_errors"] = n.get("parse_errors", 0)
    out["extract.triples_out"] = n.get("triples_out", 0)
    lo, hi = plain.load_window
    out["extract.parse_passes"] = sum(lo <= t <= hi for t in folded.python_stages)
    st = traced.stats or {}
    out["nodetable.terms"] = n.get("terms", 0)
    out["nodetable.table_bytes"] = st.get("node_bytes", 0)
    out["materialize.dedup_ratio"] = st.get("triples", 0) / max(1, n.get("triples_out", 0))
    out["materialize.bytes_written"] = st.get("bytes", 0)
    out["materialize.p_part_skew"] = st.get("p_part_skew", 0)
    reads = [s for s in tr.spans if s.layer == "sparql" and s.tag in READS]
    scans = [folded.scans.get(s.group, {}) for s in reads]
    parts = sum(sc.get("partitions", 0) for sc in scans)
    scanned = sum(sc.get("partitioned_scans", 0) for sc in scans)
    out["materialize.partitions_read_ratio"] = (
        parts / (scanned * st["p_parts"]) if scanned and st.get("p_parts") else 0)
    rows_out = sum(t[3] for t in traced.timings)
    out["materialize.rows_scanned_per_row"] = (
        sum(sc.get("rows", 0) for sc in scans) / max(1, rows_out))
    for cls in READS:
        ts = [t for t in traced.timings if t[0] == cls]
        out[f"sparql.compile_ms.{cls}"] = statistics.median(t[1] for t in ts) if ts else 0
        out[f"sparql.exec_ms.{cls}"] = statistics.median(t[2] for t in ts) if ts else 0

    def jobs_per(spans):
        return (sum(folded.per_group.get(s.group, {}).get("jobs", 0) for s in spans)
                / len(spans)) if spans else 0

    out["sparql.jobs_per_query"] = jobs_per(reads)
    out["sparql.jobs_per_query.q_list"] = jobs_per([s for s in reads if s.tag == "q_list"])
    upd = [s for s in tr.spans if s.layer == "update"]
    out["update.jobs_per_op"] = jobs_per(upd)
    out["update.store_shuffle_bytes_per_op"] = (sum(
        folded.per_group.get(s.group, {}).get("shuffle_read_bytes", 0)
        + folded.per_group.get(s.group, {}).get("shuffle_write_bytes", 0)
        for s in upd) / len(upd)) if upd else 0
    out["rdfpatch.parse_ms"] = statistics.median(n.get("patch_parse_ms", [0]))
    out["rdfpatch.partitions_rewritten_ratio"] = statistics.median(
        n.get("parts_rewritten", [0]))
    wall = traced.load_s + sum(traced.round_s)
    out["trace.overhead_ratio"] = wall / (plain.load_s + sum(plain.round_s))
    out["trace.layer_coverage"] = sum(
        (s.end_ms - s.start_ms) / 1000 for s in tr.spans) / wall
    return out


# ---------------------------------------------------------------------------
# doc_analytics
# ---------------------------------------------------------------------------


def run_analytics(args, work: str):
    from perfbench import analytics, harness, tracing

    table_dir = os.path.join(work, "input", "tables")
    setup = harness.set_up(lambda: analytics.generate_tables(args.seed, table_dir))
    spark = setup.spark
    rec = harness.Recorder()
    a = analytics.Analytics(spark, table_dir)
    s = analytics.BENCH_SIZES
    out = Outcome(setup, rec, sizes={
        "documents": s.docs, "vectors": s.vectors, "customers": s.customers,
        "suppliers": s.suppliers, "link_candidates": analytics.link_candidates(table_dir)})
    off = tracing.Tracer(spark, enabled=False)

    def one_pass(tr, defer: bool = False) -> tuple:
        """Every op once, bulk and serve classes alternating so both
        metrics sample the whole pass; returns (bulk, serve) seconds."""
        spent = [0.0, 0.0]
        for cls in analytics.MIXED:
            r = rec.run(cls, lambda: a.op(cls, tr), defer)
            spent[cls not in analytics.BULK] += r.ms / 1000
        return tuple(spent)

    # The first pass only warms the session, so the DuckDB oracle runs
    # beside it and its checks wait for the oracle.
    errors = []

    def oracle() -> None:
        try:
            a.prepare_oracle()
        except Exception as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    t0 = time.perf_counter()
    th = threading.Thread(target=oracle)
    th.start()
    try:
        warm = one_pass(off, defer=True)
    finally:
        th.join()
    if errors:
        raise errors[0]
    rec.settle()
    out.phases.update(oracle_and_warm_up=time.perf_counter() - t0, warm_up=warm)
    if args.trace:
        tr = tracing.Tracer(spark, enabled=True)
        traced_s = sum(one_pass(tr))
        plain_s = sum(one_pass(off))
        out.named = {"analytics_s": {"value": plain_s, "unit": "s"}}
        out.traced = (a, tr, traced_s, plain_s)
        return out
    t0 = time.perf_counter()
    passes = [one_pass(off)]
    while time.perf_counter() - t0 < args.seconds:
        passes.append(one_pass(off))
    out.phases.update(passes=passes)
    out.named = {"analytics_s": {"value": sum(passes[0]), "unit": "s"},
                 "op_geomean_ms": {"value": op_geomean_ms(rec.ops), "unit": "ms"}}
    out.metrics = end_to_end(setup, [b for b, _ in passes], [v for _, v in passes])
    return out


def analytics_layers(a, tr, traced_s: float, plain_s: float, folded) -> dict:
    from perfbench import analytics, tracing

    out = {}
    for layer, tot in tracing.layer_totals(folded, tr).items():
        for k, v in tot.items():
            out[f"{layer}.{k}"] = v
    cands = a.notes["minhash_pairs"][0]
    verified = a.notes["jaccard_verify"][0]
    out["dedup.candidates"] = cands
    out["dedup.verified_pairs"] = verified
    out["dedup.verify_useful_ratio"] = verified / cands if cands else 0
    out["linking.candidates"] = analytics.link_candidates(a.table_dir)
    linked = statistics.median(a.notes.get("link_blocked", [0]))
    out["linking.linked_ratio"] = linked / out["linking.candidates"]
    out["trace.overhead_ratio"] = traced_s / plain_s
    out["trace.layer_coverage"] = sum(
        (s.end_ms - s.start_ms) / 1000 for s in tr.spans) / traced_s
    return out


# ---------------------------------------------------------------------------


def stop_spark() -> None:
    """Stop the active SparkContext and the JVM, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _share(before: tuple, after: tuple) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "jena_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a jena_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness, tracing

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.fresh_dir(work)
    harness.prepare_env(work, bool(args.trace))
    noise_before = harness.noise_probe()
    ticks_before = harness.cpu_ticks()
    t_start = time.perf_counter()
    try:
        out = (run_kg if args.workload == "kg" else run_analytics)(args, work)
        if args.trace:
            stop_spark()  # finishes the event log
            tr = out.traced[0].tr if args.workload == "kg" else out.traced[1]
            folded = tracing.fold_event_log(os.path.join(work, "eventlog"), tr)
            spec = _per_layer_spec()
            layers = dict.fromkeys((n for n, _, _ in spec), 0.0)
            if args.workload == "kg":
                layers.update(kg_layers(*out.traced, folded))
            else:
                layers.update(analytics_layers(*out.traced, folded))
            layers["session.jvm_start_s"] = out.setup.jvm_start_s
            layers["session.worker_warmup_s"] = out.setup.worker_warmup_s
            metrics = {n: {"value": float(layers[n]), "unit": u} for n, u, _ in spec}
        else:
            metrics = {n: {"value": float(out.metrics[n]), "unit": u}
                       for n, u in END_TO_END}
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    rec = out.rec
    failed = sum(not r.ok for r in rec.ops)
    wrong = [r for r in rec.ops if r.wrong]
    out.phases.update(setups=sum(out.setup.times), total=time.perf_counter() - t_start)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": harness.cpus(), "sizes": out.sizes,
        "setup_s_samples": out.setup.times, "phases_s": out.phases,
        "named": dict(out.named, failed_op_ratio={
            "value": failed / len(rec.ops), "unit": "failed/attempted"}),
        "ops": op_report(rec), "failures": failures(rec),
        "noise": {"before": noise_before, "after": harness.noise_probe(),
                  "steal_share": _share(ticks_before, harness.cpu_ticks())},
    }
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not wrong, "attempted": len(rec.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
