"""Stage 4: (subj, pred, obj) triple emission.

The reference's triple generators are per-entity flatMaps
(``Class._triples`` ``pyontutils/core.py:1123-1150``, combinators
``pyontutils/combinators.py:41-64``, ``Ont.triples``
``core.py:1496-1515``) accumulated into an rdflib Graph (a *set*).
Here each generator is a declarative select/union and set semantics is
a distinct — Catalyst's partial HashAggregate does the map-side dedup,
so the shuffle moves only already-unique rows.

Page IRIs are minted JVM-side with ``sha2(url, 256)`` (same bytes as
the kernel's ``page_iri`` — no Python in the hot path).  Entity triples
are generated JVM-side too, from the compiled lexicon's term table
(``lexcompile``, one row per term): only terms that survive the
left-semi join to the linked ids are exploded into triples, and no
per-triple row is ever built on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.ids import PAGE_NS
from . import vocab
from .lexcompile import CompiledLexicon, compile_lexicon

XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"


def page_iri_col(url_col="url") -> F.Column:
    """JVM-side equivalent of kernel.ids.page_iri (sha256 hex[:32])."""
    return F.concat(F.lit(PAGE_NS),
                    F.substring(F.sha2(F.col(url_col), 256), 1, 32))


def _triple(subj, pred: str, obj, is_literal: bool,
            datatype=None) -> list[F.Column]:
    return [subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.alias("obj"), F.lit(is_literal).alias("obj_is_literal"),
            F.lit(datatype).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang")]


def page_type_triples(pages: DataFrame) -> DataFrame:
    """(page, rdf:type, TEMP:WebPage) — one per distinct url."""
    return (pages.select(page_iri_col().alias("piri")).distinct()
            .select(*_triple(F.col("piri"), vocab.RDF_TYPE,
                             F.lit(vocab.WEBPAGE_CLASS), False)))


def mention_triples(linked: DataFrame) -> DataFrame:
    """(page, ilx.isAbout:, entity) — distinct per (page, entity)."""
    return (linked.select(page_iri_col().alias("piri"), "iri").distinct()
            .select(*_triple(F.col("piri"), vocab.IS_ABOUT,
                             F.col("iri"), False)))


def _po(pred: str, obj, is_literal: bool) -> F.Column:
    return F.struct(F.lit(pred).alias("pred"), obj.alias("obj"),
                    F.lit(is_literal).alias("obj_is_literal"))


def entity_triples(spark: SparkSession,
                   lexicon: list[dict] | CompiledLexicon,
                   linked: DataFrame | None = None) -> DataFrame:
    """Lexicon-derived triples (the analog of ``Class._triples``),
    optionally restricted to entities linked somewhere in the corpus.

    The compiled lexicon's term table (one row per term: label,
    synonyms, definition, expanded parents, deprecation) is shipped as
    one Arrow stream and left-semi joined to the linked term ids FIRST;
    the surviving terms then generate their triples in the JVM with one
    ``explode`` (type + label, one per synonym, one per parent, and the
    definition / deprecated / replacedBy facts that are present).  A raw
    lexicon is compiled first."""
    table = compile_lexicon(lexicon).terms
    if table["label"].null_count:
        raise ValueError("entity triples need a label on every term")
    terms = spark.createDataFrame(table)
    if linked is not None:
        ids = linked.select("term_id").distinct()
        # the distinct linked ids are bounded by the lexicon size
        terms = terms.join(F.broadcast(ids), "term_id", "left_semi")
    po = F.concat(
        F.array(_po(vocab.RDF_TYPE, F.lit(vocab.OWL_CLASS), False),
                _po(vocab.RDFS_LABEL, F.col("label"), True)),
        F.transform("synonyms",
                    lambda s: _po(vocab.NIFRID_SYNONYM, s, True)),
        F.transform("parents",
                    lambda p: _po(vocab.RDFS_SUBCLASSOF, p, False)),
        F.filter(F.array(
            _po(vocab.DEFINITION, F.col("definition"), True),
            _po(vocab.OWL_DEPRECATED,
                F.when(F.col("deprecated"), F.lit("true")), True),
            _po(vocab.REPLACED_BY, F.col("replaced_by"), False)),
            lambda t: t["obj"].isNotNull()))
    return (terms.select(F.col("iri").alias("subj"),
                         F.explode(po).alias("t"))
            .select("subj", "t.pred", "t.obj", "t.obj_is_literal",
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang")))


def emit_triples(spark: SparkSession, pages: DataFrame, linked: DataFrame,
                 lexicon: list[dict] | CompiledLexicon) -> DataFrame:
    """Full factory output with set semantics (union + distinct).

    ``pages`` should be the RAW pages table (url suffices — passing the
    extracted-text plan here would re-run the extraction UDF for the
    page-type triples).  ``linked`` is consumed twice (mention triples +
    the entity semi-join), so it is persisted here — without the reuse
    point the whole extract->mention->link chain would execute twice.
    Callers owning a longer lifecycle can pass an already-persisted plan.
    ``lexicon`` is term dicts or the ``CompiledLexicon`` the caller
    already holds (the factory passes the one it compiled), whose term
    table feeds ``entity_triples``.
    """
    if linked.storageLevel.useMemory or linked.storageLevel.useDisk:
        linked_cached = linked
    else:
        linked_cached = linked.persist()
    return (page_type_triples(pages.select("url"))
            .unionByName(mention_triples(linked_cached))
            .unionByName(entity_triples(spark, lexicon, linked_cached))
            .distinct())


def check_closed_predicates(triples: DataFrame) -> int:
    """Constraint check: predicates outside the closed vocabulary
    (ClosedNamespace raise-on-unknown semantics).  Returns violation
    count (0 expected)."""
    return triples.filter(
        ~F.col("pred").isin(*vocab.EMITTED_PREDICATES)).count()


def check_label_cardinality(triples: DataFrame) -> DataFrame:
    """standard_checks.cardinality (core.py:44-55): subjects with more
    than one rdfs:label."""
    return (triples.filter(F.col("pred") == vocab.RDFS_LABEL)
            .groupBy("subj")
            .agg(F.countDistinct("obj").alias("n_labels"))
            .filter(F.col("n_labels") > 1))
