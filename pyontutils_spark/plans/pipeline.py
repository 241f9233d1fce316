"""End-to-end triple factory: pages -> text -> mentions -> links -> triples.

The Spark instantiation of the reference's build pipeline
(``Ont`` lifecycle: sources -> triple generators -> validate -> write,
``pyontutils/core.py:1183-1346, 1496-1541``), shaped for 10^12 pages:

- one linear DAG, no driver-side loops over data
- all joins broadcast (lexicon/candidates are the small side)
- set semantics via distinct (map-side partial aggregation)
- deterministic output independent of partitioning
- the lexicon side compiled once per call (``operators.lexcompile``):
  one walk yields the matcher's pattern set, the best-candidate table
  and the term table, shared by the mention, linking and emit stages
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from ..operators import emit, linking, mentions as mention_ops
from ..operators.extract import with_extracted_text
from ..operators.lexcompile import CompiledLexicon, compile_lexicon


@dataclass
class TripleFactoryResult:
    """The factory's output plans.  ``triples`` is the result; ``linked``
    is persisted by it (unpersist when done).  ``pages_with_text`` and
    ``mentions`` are inspection views the triples DAG does not use: each
    is planned on first read only."""
    linked: DataFrame
    triples: DataFrame
    pages: DataFrame
    automaton_bc: Broadcast
    lang_filter: str | None

    @cached_property
    def pages_with_text(self) -> DataFrame:
        """Pages with ``text`` extracted where it was missing."""
        return with_extracted_text(self.pages)

    @cached_property
    def mentions(self) -> DataFrame:
        """The offset-bearing mention view (the annotate contract):
        ``(url, start, end, surface, pattern_norm)``."""
        return mention_ops.detect_mentions_fused(
            self.pages, self.automaton_bc, lang_filter=self.lang_filter)


def run_triple_factory(spark: SparkSession, pages: DataFrame,
                       lexicon: list[dict] | CompiledLexicon,
                       min_length: int = 3,
                       lang_filter: str | None = "en") -> TripleFactoryResult:
    """pages(url, html, text, lang, ...) -> triples, with ``lexicon``
    given as term dicts or already compiled (a raw lexicon is compiled
    here, once, for every stage)."""
    lex = compile_lexicon(lexicon, min_length)
    ac_bc = mention_ops.broadcast_automaton(spark, lex, min_length)
    # the triples DAG consumes only (url, pattern_norm): use the hybrid
    # stage — pre-extracted rows match in pure JVM (whole-stage codegen,
    # no Python), html rows extract+match in one fused Arrow pass
    ments = mention_ops.detect_mentions_hybrid(
        pages, lex, ac_bc, lang_filter=lang_filter, min_length=min_length)
    cands = linking.candidates_df(spark, lex, min_length, best_only=True)
    linked = linking.link_mentions(ments, cands)
    # raw pages (url only) for the page-type triples — the extraction UDF
    # must not run for them; linked is persisted inside emit_triples.
    triples = emit.emit_triples(spark, pages, linked, lex)
    return TripleFactoryResult(linked, triples, pages, ac_bc, lang_filter)


def canonicalize_triples(triples):
    """Entity-canonicalization pass over factory output: sameAs candidate
    edges from duplicate rdfs:label values, connected components, rewrite
    every triple through (iri -> natsort-min canonical), emit owl:sameAs
    provenance — the reference's synonym/label collapsing
    (get_label2rows interlex_sql.py:271-282 + switchURIs/swapUriSwitch
    ontutils.py:71-91, 521-583) as one declarative pass."""
    from pyspark.sql import functions as F

    from ..operators import vocab
    from ..operators.components import (
        canonical_mapping, rewrite_triples, sameas_candidates_from_lexicon)

    labels = (triples.filter(F.col("pred") == vocab.RDFS_LABEL)
              .select(F.col("subj").alias("iri"),
                      F.lower(F.trim("obj")).alias("label_norm"))
              .distinct())
    edges = sameas_candidates_from_lexicon(labels)
    mapping = canonical_mapping(edges)
    return rewrite_triples(triples, mapping)
