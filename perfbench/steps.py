"""The workload runs, untraced and traced, driven through the engine's
public functions, with the golden gate applied to every result.

The untraced run is the triple factory.  The traced run goes on to
materialize the factory's triple set, so every layer is traced on every
workload.

Traced runs force each layer's output as its own action, in DAG order.
A forced span re-executes the whole prefix of the DAG up to that layer,
so a layer's self time is its span minus the previous prefix span.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyontutils_spark.kernel.curies import DEFAULT as PREFIXES
from pyontutils_spark.kernel.norm import local_degrade
from pyontutils_spark.operators import emit, linking, vocab
from pyontutils_spark.operators import mentions as mention_ops
from pyontutils_spark.operators.extract import with_extracted_text
from pyontutils_spark.operators.ordering import commutative_checksum
from pyontutils_spark.plans.catalog import (
    read_table, write_entities_table, write_triples_table)
from pyontutils_spark.plans.pipeline import (
    canonicalize_triples, run_triple_factory)
from pyontutils_spark.sources.rdf import nifttl_per_graph

NAMESPACES = dict(PREFIXES.prefix_to_ns)
MB = 1e6


class GoldenMismatch(Exception):
    """A run's output differs from the golden oracle."""


def check(what: str, got, want) -> None:
    if list(got) != list(want):
        raise GoldenMismatch(f"{what}: got {got}, golden {want}")


def triple_checksum(df) -> tuple[int, int]:
    r = commutative_checksum(df).collect()[0]
    return r["n_triples"], r["checksum_sum"]


def force(df, *extra):
    """Execute ``df`` to completion through an aggregate that reads
    every column, so no projection can be pruned away (a bare count
    lets Catalyst drop the extraction UDF)."""
    return df.agg(F.count("*").alias("rows"),
                  F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
                  *extra).collect()[0]


def ensure_triples(spark, inp) -> None:
    """Write the factory's triple set for the workload's pages once per
    seed (the input of the traced materialize layers) and check it
    against the corpus oracle."""
    if os.path.exists(inp.triples_path):
        return
    tmp = inp.triples_path + ".tmp"
    res = run_triple_factory(spark, spark.read.parquet(inp.pages_path),
                             inp.lexicon)
    (res.triples.repartition(16, "subj")
     .write.mode("overwrite").parquet(tmp))
    res.linked.unpersist()
    check("factory triple set", triple_checksum(spark.read.parquet(tmp)),
          inp.golden["corpus"])
    os.replace(tmp, inp.triples_path)


# ---------------------------------------------------------------------------
# untraced runs
# ---------------------------------------------------------------------------

def factory(spark, inp) -> int:
    """Pages -> triples; returns the number of triples emitted."""
    res = run_triple_factory(spark, spark.read.parquet(inp.pages_path),
                             inp.lexicon)
    try:
        got = triple_checksum(res.triples)
    finally:
        res.linked.unpersist()
    check("factory triples", got, inp.golden["corpus"])
    return got[0]


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------

def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_"))]


def trace_factory(spark, inp, tr) -> dict:
    """Layers 1-4: extract, mentions, linking, emit."""
    lex = inp.lexicon
    pages = spark.read.parquet(inp.pages_path)
    with tr.span("extract") as s_ext:
        ext = force(with_extracted_text(pages.filter(F.col("text").isNull())))
    with tr.span("mentions") as s_men:
        with tr.span("mentions.build") as s_mb:
            ac_bc = mention_ops.broadcast_automaton(spark, lex)
        ments = mention_ops.detect_mentions_hybrid(pages, lex, ac_bc)
        men = force(ments)
    with tr.span("linking") as s_lnk:
        with tr.span("linking.build") as s_lb:
            cands = linking.candidates_df(spark, lex, best_only=True)
        linked = linking.link_mentions(ments, cands)
        lnk = force(linked)
    with tr.span("emit") as s_emit:
        triples = emit.emit_triples(spark, pages, linked, lex)
        got = triple_checksum(triples)
    linked.unpersist()
    ac_bc.destroy()
    check("traced factory triples", got, inp.golden["corpus"])

    patterns = {p for t in lex
                for p in (t["label_norm"],
                          *map(local_degrade, t.get("synonyms", ())))}
    # prefix spans: the forced part of each span, builds excluded
    p_ext = s_ext.wall_s
    p_men = s_men.wall_s - s_mb.wall_s
    p_lnk = s_lnk.wall_s - s_lb.wall_s
    c_men = s_men.cpu_s - s_mb.cpu_s
    return {
        "extract.self_s": p_ext,
        "extract.rows": ext["rows"],
        "extract.cpu_s": s_ext.cpu_s,
        "mentions.build_s": s_mb.wall_s,
        "mentions.patterns": len(patterns),
        "mentions.self_s": p_men - p_ext,
        "mentions.rows_out": men["rows"],
        "mentions.cpu_s": c_men - s_ext.cpu_s,
        "linking.build_s": s_lb.wall_s,
        "linking.candidates": cands.count(),
        "linking.self_s": p_lnk - p_men,
        "linking.rows_out": lnk["rows"],
        "linking.hit_ratio": lnk["rows"] / men["rows"] if men["rows"] else 0.0,
        "emit.self_s": s_emit.wall_s - p_lnk,
        "emit.triples_out": got[0],
        "emit.shuffle_write_mb": s_emit.shuffle_write_bytes / MB,
        "emit.spill_mb": s_emit.spill_bytes / MB,
    }


def trace_materialize(spark, inp, tr, out_dir: str) -> dict:
    """Layer 5 on the factory's triple set: canonical triples ->
    partitioned triple table -> entity table -> one nifttl document per
    subject bucket, each output checked against the oracle.  The
    canonical triples are forced once on their own, so the rewrite can
    be told apart from the table write that re-executes it."""
    with tr.span("components") as comp:
        canon = canonicalize_triples(spark.read.parquet(inp.triples_path))
        with tr.span("components.rewrite") as rw:
            r = force(canon, F.sum((F.col("pred") == vocab.OWL_SAMEAS)
                                   .cast("long")).alias("edges"))
    with tr.span("catalog.triples_write") as tw:
        tpath = write_triples_table(spark, canon, out_dir)
    table = read_table(spark, tpath)
    triples = table.drop("subj_bucket")
    with tr.span("catalog.check"):
        got = triple_checksum(triples)
    check("materialized triple table", got, inp.golden["canonical"])
    with tr.span("catalog.entities_write") as ew:
        epath = write_entities_table(spark, triples, out_dir)
    check("entity table rows", [read_table(spark, epath).count()],
          [inp.golden["canonical_subjects"]])
    with tr.span("rdf.nifttl") as nt:
        docs = (nifttl_per_graph(table, NAMESPACES, graph_col="subj_bucket")
                .agg(F.count("*").alias("n"),
                     F.sum(F.octet_length("ttl")).alias("bytes"))
                .collect()[0])
    buckets = [f for f in os.listdir(tpath) if f.startswith("subj_bucket=")]
    check("nifttl documents", [docs["n"]], [len(buckets)])

    t_files, e_files = _files(tpath), _files(epath)
    t_bytes = sum(os.path.getsize(f) for f in t_files)
    e_bytes = sum(os.path.getsize(f) for f in e_files)
    return {
        "components.self_s": comp.wall_s,
        "components.edges": r["edges"],
        "components.jobs": comp.jobs + rw.jobs,
        "components.shuffle_write_mb":
            (comp.shuffle_write_bytes + rw.shuffle_write_bytes) / MB,
        "components.rewrite_s": rw.wall_s,
        # the table write re-executes the rewrite from the checkpointed
        # component mapping
        "catalog.triples_write_s": tw.wall_s - rw.wall_s,
        "catalog.entities_write_s": ew.wall_s,
        "catalog.bytes_mb": (t_bytes + e_bytes) / MB,
        "catalog.files": len(t_files) + len(e_files),
        "catalog.bytes_per_triple": t_bytes / got[0],
        "rdf.nifttl_s": nt.wall_s,
        "rdf.nifttl_docs": docs["n"],
        "rdf.nifttl_mb": docs["bytes"] / MB,
    }
