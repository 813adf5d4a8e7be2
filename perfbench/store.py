"""Calls into the program: session, corpus, builds (plain and traced),
and benchmark-side reads of an emitted store that do not use kg.match."""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from dataclasses import dataclass
from functools import cached_property

from perfbench.gen import N_ENTITIES, N_PARTS

CORES = 4
# the status tracker keeps job and stage records only this long; the traced
# run reads them back after every call
RETAINED = "100000"


def start_spark(tmp_dir: str):
    from gstored_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.ui.retainedJobs": RETAINED,
            "spark.ui.retainedStages": RETAINED,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _docs_batches(batches):
    import pandas as pd

    from gstored_spark.sources.corpus import doc_record

    cols = ["url", "warc_ts", "html", "text", "lang"]
    for pdf in batches:
        rows = [doc_record(int(i), N_ENTITIES)[0] for i in pdf["id"]]
        if rows:
            yield pd.DataFrame(rows, columns=cols)


def documents(spark, lo: int, hi: int):
    """Corpus documents [lo, hi) from the sources/corpus.py generator."""
    from gstored_spark.sources.corpus import DOCUMENTS_SCHEMA

    return spark.range(lo, hi, 1, CORES).mapInPandas(_docs_batches, schema=DOCUMENTS_SCHEMA)


def gold_triples(lo: int, hi: int) -> set:
    from gstored_spark.sources.corpus import doc_record

    out = set()
    for i in range(lo, hi):
        for g in doc_record(i, N_ENTITIES)[1]:
            out.add((g["subj"], g["pred"], g["obj"]))
    return out


def build(spark, lo: int, hi: int, out_dir: str) -> None:
    """The gloadD path as a user runs it: documents -> run_pipeline ->
    write_artifact."""
    from gstored_spark.kg.blocks import write_artifact
    from gstored_spark.kg.pipeline import run_pipeline

    write_artifact(run_pipeline(spark, documents(spark, lo, hi), n_parts=N_PARTS), out_dir)


def build_traced(spark, tracer, lo: int, hi: int, out_dir: str) -> dict:
    """The same build, one span per layer: mirrors run_pipeline's in-memory
    composition (store=None), forcing each stage with the eager
    localCheckpoint its stage() uses, but runs the stages serially so each
    layer's time is its own. Row counts are taken outside the spans.
    -> counts {triples.mention_rows, canon.rows, ids.terms, ...}."""
    from pyspark.storagelevel import StorageLevel

    from gstored_spark.kg import blocks as B
    from gstored_spark.kg import canon as C
    from gstored_spark.kg import ids as I
    from gstored_spark.kg import partition as P
    from gstored_spark.kg import triples as Tr
    from gstored_spark.kg.pipeline import PipelineResult, release_checkpoint

    def ckpt(df):
        return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)

    counts = {}
    docs = documents(spark, lo, hi)
    with tracer.span("triples.mention"):
        mentions = ckpt(Tr.mention_triples_raw(docs))
    n_mentions = mentions.count()
    counts["triples.mention_rows"] = n_mentions
    # run_pipeline's scale-adaptive shuffle width for mention-derived stages
    conf = spark.conf
    old = conf.get("spark.sql.shuffle.partitions")
    target = min(int(old), max(spark.sparkContext.defaultParallelism, n_mentions // 64_000))
    conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        with tracer.span("canon"):
            triples = ckpt(C.canonical_triples_from_mentions(mentions))
        release_checkpoint(mentions)
        counts["canon.rows"] = triples.count()
        with tracer.span("ids.dict"):
            e, l, p = (ckpt(d) for d in I.build_dictionaries(triples))
        counts["ids.terms"] = e.count() + l.count() + p.count()
        with tracer.span("ids.encode"):
            id_triples = ckpt(I.encode_triples(triples, e, l, p))
        counts["ids.rows"] = id_triples.count()
        with tracer.span("partition.route"):
            routed = ckpt(P.route_triples(id_triples, N_PARTS))
            internal = ckpt(P.internal_vertices(routed, N_PARTS))
        counts["partition.replication"] = routed.count() / max(counts["ids.rows"], 1)
        with tracer.span("blocks.adjacency"):
            hot = P.hot_subjects(routed, 100_000)
            if hot.limit(1).count() == 0:
                adj = ckpt(B.adjacency(routed, internal, n_parts=N_PARTS))
            else:
                salted = P.salted_shuffle_key(routed, hot)
                adj = ckpt(B.adjacency(salted, internal, salt_col="salt", n_parts=N_PARTS))
        with tracer.span("blocks.signature"):
            sigs = ckpt(B.vertex_signatures_from_ids(id_triples, e, l))
            part_sig = ckpt(B.partition_signature(B.partitioned_signatures(sigs, internal)))
    finally:
        conf.set("spark.sql.shuffle.partitions", old)
    result = PipelineResult(
        triples=triples, entity_dict=e, literal_dict=l, pred_dict=p,
        id_triples=id_triples, routed=routed, internal=internal, adjacency=adj,
        signatures=sigs, part_sig=part_sig,
    )
    with tracer.span("blocks.write"):
        B.write_artifact(result, out_dir)
    return counts


@dataclass
class Snapshot:
    """A store's logical content, read back by the benchmark."""

    rows: list  # decoded (s, p, o) per stored row, duplicates kept
    adjacency_ok: bool  # adjacency out-lists hold the same row bag

    @cached_property
    def distinct(self) -> set:
        return set(self.rows)

    def checksum(self) -> str:
        return triple_checksum(self.distinct)


def triple_checksum(triples) -> str:
    """Order-independent checksum of a triple set: sum of per-triple
    64-bit hashes, mod 2**64."""
    acc = 0
    for t in triples:
        h = hashlib.blake2b("\t".join(t).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return f"{len(triples)}:{acc:016x}"


def snapshot(spark, art_dir: str) -> Snapshot:
    """Decode the predicate-first table through the dictionaries; check the
    adjacency table against it."""
    from gstored_spark.kg.blocks import triples_from_adjacency

    rd = spark.read.parquet
    terms = {r[1]: r[0] for d in ("entity_dict", "literal_dict")
             for r in rd(f"{art_dir}/{d}").select("term", "id").collect()}
    preds = {r[1]: r[0] for r in rd(f"{art_dir}/pred_dict").select("term", "id").collect()}
    ids = [tuple(r) for r in rd(f"{art_dir}/triples_by_pred").select("s", "p", "o").collect()]
    adj = [tuple(r) for r in triples_from_adjacency(rd(f"{art_dir}/adjacency"))
           .select("s", "p", "o").collect()]
    rows = [(terms[s], preds[p], terms[o]) for s, p, o in ids]
    return Snapshot(rows=rows, adjacency_ok=Counter(ids) == Counter(adj))


def listing(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def data_files(files: dict) -> int:
    """Table data files (parquet/json parts), not checksums or markers."""
    return sum(1 for p in files if os.path.basename(p).startswith("part-")
               and not p.endswith(".crc"))


def store_bytes(files: dict) -> int:
    return sum(size for size, _ in files.values())
