"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,query} --seed N --seconds S --trace {0,1}

Run from the repository root. One process, local[4], one closed-loop
client. The last stdout line is one JSON object: {correct, attempted,
failed, metrics}; with --trace 0 the metrics are the end-to-end metrics,
with --trace 1 the per-layer ones. The line before it carries details
that are not gated (sample counts, answer-defect rate, host drift).
See perfbench/README.md for what each workload measures and why."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"  # the session default (16g) does not fit a 15 GiB host

now = time.perf_counter


def _set_env(work: str) -> str:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no JVM performance-data file in the system temp dir (spark-submit's
    # launcher JVM; the driver JVM gets the flag in store.start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # workers import the program and the benchmark's own modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # settings that would change the program's own session configuration
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(k, None)
    return tmp


# ---- query rounds -----------------------------------------------------------

@dataclass
class Answer:
    query: object
    rows: object  # list of row tuples, or the exception the query raised
    latency_s: float  # run_sparql_over_artifact plus collect
    request: str


def run_round(art, queries, tracer, request_base: int) -> list[Answer]:
    """Send each query and wait for its rows."""
    from gstored_spark.plans.sparql import parse_sparql, run_sparql_over_artifact

    out = []
    for i, q in enumerate(queries):
        rid = f"q{request_base + i}"
        with tracer.span(f"query.{q.name}", request=rid) as rec:
            if tracer.enabled:
                with tracer.span("sparql.parse", request=rid):
                    parse_sparql(q.text)
            t0 = now()
            try:
                with tracer.span("match.plan", request=rid):
                    df = run_sparql_over_artifact(art, q.text, assembled=q.assembled)
                with tracer.span("match.exec", request=rid):
                    rows = [tuple(r) for r in df.collect()]
            except Exception as ex:  # a failed query is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                rows = ex
            lat = now() - t0
            rec["latency"] = lat
            out.append(Answer(q, rows, lat, rid))
    return out


def check_answers(graph, results) -> dict:
    from perfbench.oracle import DUP_DEFECT, OK, WRONG, classify

    tally = {OK: 0, DUP_DEFECT: 0, WRONG: 0, "exception": 0}
    for a in results:
        q = a.query
        if isinstance(a.rows, Exception):
            tally["exception"] += 1
            continue
        verdict = classify(graph, q, a.rows)
        tally[verdict] += 1
        if verdict != OK:
            print(f"answer {verdict}: {q.name} assembled={q.assembled} "
                  f"const={q.const}", file=sys.stderr)
    return tally


# ---- workloads --------------------------------------------------------------

class Run:
    """State shared by one benchmark run."""

    def __init__(self, args, spark, tracer, work, session_s):
        self.args, self.spark, self.tracer = args, spark, tracer
        self.work, self.session_s = work, session_s
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.layer: dict = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def store_metrics(self, snap, art_dir: str) -> dict:
        from perfbench.gen import window
        from perfbench.store import gold_triples, listing, store_bytes

        distinct = snap.distinct
        gold = gold_triples(*window(self.args.seed))
        hit = len(distinct & gold)
        files = listing(art_dir)
        return {
            "triple_precision": (hit / len(distinct), "ratio"),
            "triple_recall": (hit / len(gold), "ratio"),
            "store_bytes_per_triple": (store_bytes(files) / len(distinct), "B"),
        }

    def serve(self, art_dir: str, snap, timed: bool) -> tuple:
        """Open the store and answer one warm-up round (every template once,
        which also fills the handle's lazily collected catalog caches);
        when timed, then whole rounds within --seconds.
        -> (open + warm-up s, timed results, timed s)."""
        from gstored_spark.kg.blocks import GraphArtifact

        from perfbench.gen import QueryMix, entity_pools
        from perfbench.oracle import Graph

        with self.tracer.span("blocks.open"):
            t0 = now()
            art = GraphArtifact(self.spark, art_dir)
            open_s = now() - t0
        self.layer["blocks.open_s"] = (open_s, "s")
        graph = Graph(snap.rows)
        mix = QueryMix(entity_pools(graph.bag, self.args.seed), self.args.seed)
        t0 = now()
        warm = run_round(art, mix.next_round(), self.tracer, 0)
        warm_s = now() - t0 + open_s
        # whole rounds only, so every run weighs each template alike; a round
        # is not started when the last one says it would overrun
        timed_out, t0, last = [], now(), 0.0
        while timed and (not timed_out or now() - t0 + last <= self.args.seconds):
            t1 = now()
            timed_out += run_round(art, mix.next_round(), self.tracer,
                                   len(warm) + len(timed_out))
            last = now() - t1
        window_s = now() - t0
        tally = check_answers(graph, warm + timed_out)
        n = len(warm) + len(timed_out)
        self.attempted += n
        self.failed += tally["wrong"] + tally["exception"]
        errors = tally["wrong"] + tally["exception"] + tally["dup_defect"]
        self.detail.update({"queries": n, "answers": tally, "error_rate": errors / n})
        self.layer["error_rate"] = (errors / n, "ratio")
        self.layer["oracle.dup_defect_answers"] = (tally["dup_defect"], "count")
        self.query_layers(timed_out or warm)
        return warm_s, timed_out, window_s

    def query_layers(self, results) -> None:
        if not self.tracer.enabled:
            return
        from perfbench.gen import TEMPLATE_NAMES

        ids = {a.request for a in results}
        spans = [s for s in self.tracer.spans if s["request"] in ids]

        def med(name):
            return statistics.median(s["end"] - s["start"] for s in spans if s["name"] == name)

        self.layer["sparql.parse_s"] = (med("sparql.parse"), "s")
        self.layer["match.plan_s"] = (med("match.plan"), "s")
        self.layer["match.exec_s"] = (med("match.exec"), "s")
        for t in TEMPLATE_NAMES:
            top = [s for s in spans if s["name"] == f"query.{t}"]
            self.layer[f"query.{t}.p50_s"] = (statistics.median(s["latency"] for s in top), "s")
            self.layer[f"query.{t}.jobs"] = (sum(s["jobs"] for s in top) / len(top), "count")

    def build_layers(self, counts: dict, snap, art_dir: str) -> None:
        from perfbench.store import data_files, listing
        from perfbench.trace import duration

        tr = self.tracer
        span = {s["name"]: s for s in tr.spans}
        for metric, name in (("triples.mention_s", "triples.mention"), ("canon.s", "canon"),
                             ("ids.dict_s", "ids.dict"), ("ids.encode_s", "ids.encode"),
                             ("partition.route_s", "partition.route"),
                             ("blocks.adjacency_s", "blocks.adjacency"),
                             ("blocks.signature_s", "blocks.signature"),
                             ("blocks.write_s", "blocks.write")):
            self.layer[metric] = (duration(span[name]), "s")
        for layer, names in (("triples", ["triples.mention"]), ("canon", ["canon"]),
                             ("ids", ["ids.dict", "ids.encode"]),
                             ("partition", ["partition.route"]),
                             ("blocks", ["blocks.adjacency", "blocks.signature",
                                         "blocks.write"])):
            self.layer[f"{layer}.jobs"] = (sum(span[n]["jobs"] for n in names), "count")
            self.layer[f"{layer}.tasks"] = (sum(span[n]["tasks"] for n in names), "count")
        self.layer["triples.mention_rows"] = (counts["triples.mention_rows"], "count")
        self.layer["canon.rows"] = (counts["canon.rows"], "count")
        self.layer["ids.terms"] = (counts["ids.terms"], "count")
        self.layer["partition.replication"] = (counts["partition.replication"], "ratio")
        self.layer["blocks.files"] = (data_files(listing(art_dir)), "count")
        self.layer["blocks.dup_ratio"] = (len(snap.rows) / len(snap.distinct), "ratio")

    def updates(self, art_dir: str, snap) -> None:
        """Apply one narrow update batch to the store, then check
        read-your-writes and the final triple set (tracing only)."""
        from gstored_spark.kg.update import update_artifact
        from gstored_spark.plans.sparql import run_sparql_over_artifact

        from perfbench.gen import update_batch
        from perfbench.store import listing, snapshot

        before_set = snap.distinct
        inserts, deletes = update_batch(before_set, self.args.seed)
        ins = {t[:3] for t in inserts}
        changed = len(ins - before_set) + len(set(deletes) & before_set)
        expected = (before_set | ins) - set(deletes)
        ins_df = self.spark.createDataFrame(
            inserts, "subj string, pred string, obj string, o_is_entity boolean")
        del_df = self.spark.createDataFrame(deletes, "subj string, pred string, obj string")
        before = listing(art_dir)
        with self.tracer.span("update.narrow") as rec:
            art = update_artifact(self.spark, art_dir, ins_df, del_df)
        after = listing(art_dir)
        dirs = {os.path.dirname(p) for p in set(before) | set(after)
                if os.path.basename(p).startswith("part-") and before.get(p) != after.get(p)}
        written = sum(v[0] for p, v in after.items() if before.get(p) != v)
        self.layer["update.narrow_s"] = (rec["end"] - rec["start"], "s")
        self.layer["update.dirs_rewritten.narrow"] = (len(dirs), "count")
        self.layer["update.bytes_written_per_changed_triple"] = (written / changed, "B")
        self.layer["update.jobs_per_batch"] = (rec["jobs"], "count")
        # read-your-writes on every touched subject, through the fresh handle
        for i, s in enumerate(sorted({t[0] for t in inserts})):
            q = f"SELECT ?p ?o WHERE {{ {s} ?p ?o }}"
            with self.tracer.span("update.read") as rr:
                got = {tuple(r) for r in run_sparql_over_artifact(art, q).collect()}
            if i == 0:
                self.layer["update.first_read_s"] = (rr["end"] - rr["start"], "s")
            want = {(p, o) for s2, p, o in expected if s2 == s}
            self.check(got == want, f"read-your-writes on {s}")
        self.check(snapshot(self.spark, art_dir).distinct == expected,
                   "triple set after the update")


def build_store(run: Run):
    """Build the seed's window into a store, traced when tracing, and read
    it back. -> (store dir, layer counts, build s, snapshot)."""
    from perfbench.gen import window
    from perfbench.store import build, build_traced, snapshot

    store = f"{run.work}/store"
    t0 = now()
    if run.tracer.enabled:
        counts = build_traced(run.spark, run.tracer, *window(run.args.seed), store)
    else:
        counts = build(run.spark, *window(run.args.seed), store)
    build_s = now() - t0
    snap = snapshot(run.spark, store)
    run.check(snap.adjacency_ok, "adjacency agrees with triples_by_pred")
    run.detail.update({"distinct_triples": len(snap.distinct), "stored_rows": len(snap.rows)})
    return store, counts, build_s, snap


def workload_build(run: Run) -> dict:
    """Timed: documents -> run_pipeline -> write_artifact of the seed's
    window, the first build of a fresh session, as a gloadD run does it (no
    warm-up build: see README.md for why)."""
    from perfbench.gen import window
    from perfbench.store import build, snapshot

    store, counts, build_s, snap = build_store(run)
    if run.tracer.enabled:
        # the same window built untraced: the traced composition must
        # reproduce run_pipeline's store
        build(run.spark, *window(run.args.seed), f"{run.work}/reference")
        ref = snapshot(run.spark, f"{run.work}/reference").checksum()
        run.check(snap.checksum() == ref, "traced build equals the untraced build")
        run.detail["store_checksum"] = ref
        run.build_layers(counts, snap, store)
        run.serve(store, snap, timed=False)
        run.updates(store, snap)
    return {
        "setup_s": (run.session_s, "s"),
        "build_triples_per_s": (len(snap.distinct) / build_s, "1/s"),
        "op_p50_s": (build_s, "s"),
        **run.store_metrics(snap, store),
    }


def workload_query(run: Run) -> dict:
    """Setup builds the seed's store and answers one round of every
    template; timed: whole rounds within --seconds."""
    from perfbench.stats import highest_supported_percentile

    store, counts, build_s, snap = build_store(run)
    warm_s, timed, _ = run.serve(store, snap, timed=True)
    lat = [a.latency_s for a in timed]
    tail = highest_supported_percentile(lat)
    run.detail.update({
        "latency_s": [[a.query.name, round(a.latency_s, 3)] for a in timed],
        "latency_samples": len(lat),
        "latency_tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
    })
    if run.tracer.enabled:
        run.build_layers(counts, snap, store)
        run.updates(store, snap)
    return {
        "setup_s": (run.session_s + build_s + warm_s, "s"),
        "build_triples_per_s": (len(snap.distinct) / build_s, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        **run.store_metrics(snap, store),
    }


WORKLOADS = {"build": workload_build, "query": workload_query}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="gstored_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gstored_spark", "session.py")):
        print(f"no gstored_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.procs import descendants, peak_rss_mb, stop_spark
    from perfbench.stats import host_probe, steal_seconds
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = _set_env(work)
    # a terminated run still stops its processes and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    steal0, probe0 = steal_seconds(), host_probe()
    t_start = now()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from perfbench.store import start_spark

        t0 = now()
        spark = start_spark(tmp)
        session_s = now() - t0
        tracer.attach(spark)
        run = Run(args, spark, tracer, work, session_s)
        metrics = WORKLOADS[args.workload](run)
        rss = peak_rss_mb([os.getpid()] + descendants(os.getpid()))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    probe = (probe0 + host_probe()) / 2
    steal = steal_seconds() - steal0
    run.layer.update({
        "host.probe_s": (probe, "s"), "host.steal_s": (steal, "s"),
        "proc.peak_rss_mb": (rss, "MB"), "trace.overhead_s": (tracer.overhead_s, "s"),
    })
    run.detail.update({"host.probe_s": probe, "host.steal_s": steal,
                       "session_s": session_s, "run_s": now() - t_start})
    if tracer.enabled:
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    chosen = run.layer if tracer.enabled else metrics
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "detail": run.detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(chosen.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
