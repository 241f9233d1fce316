"""Lexicon compile pass: the lexicon side of the triple factory, built
once per run in one walk over the terms.

The walk produces the three lexicon-derived inputs the factory needs:

- ``patterns``: every distinct degraded label/synonym
  (``lower().strip()``, ``interlex_sql.py:22``) — the matcher's pattern
  set, shared by the broadcast automaton and the JVM regex path;
- ``candidates`` / ``best_candidates``: the (pattern, term) link
  candidates at or above ``min_length`` and the top-1 per pattern
  (label beats synonym, then natsort-min curie — the order-independent
  form of the reference's ordered label/synonym probes,
  ``interlex_ingestion.py:103-117, 246-287``);
- ``terms``: one row per term with the facts its entity triples are
  generated from (the ``Class._triples`` analog, ``core.py:1123-1150``),
  parent and replacement CURIEs already expanded to IRIs.

The tables are ``pyarrow.Table``s built column-wise, so shipping them to
Spark is one Arrow stream (``spark.createDataFrame(<pa.Table>)``), not a
per-row verify/convert pass over Python dicts.  The argmax keys on
``is_synonym`` first and computes a curie's natsort key only when two
terms tie on a pattern, once per term.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

from ..kernel.curies import DEFAULT as PREFIXES
from ..kernel.norm import local_degrade, natsort_key

SCORE_LABEL = 1.0
SCORE_SYNONYM = 0.9
#: annotate's minLength default (scigraph_client.py:181)
MIN_LENGTH = 3

CANDIDATE_SCHEMA = pa.schema([
    ("pattern_norm", pa.string()), ("term_id", pa.int64()),
    ("curie", pa.string()), ("iri", pa.string()),
    ("score", pa.float64()), ("is_synonym", pa.bool_())])

TERM_SCHEMA = pa.schema([
    ("term_id", pa.int64()), ("iri", pa.string()), ("label", pa.string()),
    ("synonyms", pa.list_(pa.string())), ("definition", pa.string()),
    ("parents", pa.list_(pa.string())), ("deprecated", pa.bool_()),
    ("replaced_by", pa.string())])


def term_patterns(term: dict):
    """(pattern_norm, is_synonym) for a term's label and each synonym."""
    yield term["label_norm"], False
    for s in term.get("synonyms", ()):
        yield local_degrade(s), True


@dataclass(frozen=True)
class CompiledLexicon:
    #: the source terms (category-filtered automata walk them again)
    lexicon: list[dict]
    min_length: int
    #: every distinct degraded pattern, sorted; not length-filtered
    patterns: tuple[str, ...]
    #: every candidate at or above min_length, in lexicon order
    candidates: pa.Table
    #: the top-1 candidate per pattern
    best_candidates: pa.Table
    terms: pa.Table


def lexicon_patterns(lexicon: list[dict] | CompiledLexicon
                     ) -> tuple[str, ...]:
    """The sorted distinct patterns of a lexicon: a compiled lexicon's
    shared set, or one walk over raw terms that builds no tables (for
    callers that need only the matcher)."""
    if isinstance(lexicon, CompiledLexicon):
        return lexicon.patterns
    return tuple(sorted({p for t in lexicon for p, _ in term_patterns(t)}))


def compile_lexicon(lexicon: list[dict] | CompiledLexicon,
                    min_length: int | None = None) -> CompiledLexicon:
    """Compile a lexicon (list of term dicts, ``synth.lexicon`` shape;
    ``term_id``, ``curie``, ``iri`` and ``label_norm`` are required, the
    rest only by entity-triple emission).

    A ``CompiledLexicon`` is returned as is when ``min_length`` is None
    or equal to the one it was compiled with; otherwise its terms are
    compiled again.  A raw lexicon compiles with ``min_length`` or 3."""
    if isinstance(lexicon, CompiledLexicon):
        if min_length is None or min_length == lexicon.min_length:
            return lexicon
        lexicon = lexicon.lexicon
    if min_length is None:
        min_length = MIN_LENGTH
    expand = PREFIXES.expand
    patterns: set[str] = set()
    c_pat: list[str] = []
    c_term: list[int] = []
    c_syn: list[bool] = []
    best: dict[str, int] = {}
    nat: dict[int, str] = {}

    def natkey(i: int) -> str:
        k = nat.get(i)
        if k is None:
            k = nat[i] = natsort_key(lexicon[i]["curie"])
        return k

    ids, curies, iris, labels, syns, defs = [], [], [], [], [], []
    parents, deps, repl = [], [], []
    for i, t in enumerate(lexicon):
        for pat, is_syn in term_patterns(t):
            patterns.add(pat)
            if len(pat) < min_length:
                continue
            row = len(c_pat)
            c_pat.append(pat)
            c_term.append(i)
            c_syn.append(is_syn)
            j = best.setdefault(pat, row)
            # strict: on an equal key the first candidate keeps the slot
            if j != row and (
                    is_syn < c_syn[j] or
                    (is_syn == c_syn[j] and natkey(i) < natkey(c_term[j]))):
                best[pat] = row
        ids.append(t["term_id"])
        curies.append(t["curie"])
        iris.append(t["iri"])
        labels.append(t.get("label"))
        syns.append(t.get("synonyms", ()))
        defs.append(t.get("definition") or None)
        parents.append([expand(p) for p in t.get("parents", ())])
        dep = bool(t.get("deprecated"))
        deps.append(dep)
        rb = t.get("replaced_by")
        repl.append(expand(rb) if dep and rb else None)

    terms = pa.table([ids, iris, labels, syns, defs, parents, deps, repl],
                     schema=TERM_SCHEMA)
    idx = pa.array(c_term, pa.int64())
    is_syn = pa.array(c_syn, pa.bool_())
    candidates = pa.table([
        pa.array(c_pat, pa.string()), terms["term_id"].take(idx),
        pa.array(curies, pa.string()).take(idx), terms["iri"].take(idx),
        pc.if_else(is_syn, SCORE_SYNONYM, SCORE_LABEL), is_syn],
        schema=CANDIDATE_SCHEMA)
    return CompiledLexicon(
        lexicon=lexicon, min_length=min_length,
        patterns=tuple(sorted(patterns)), candidates=candidates,
        best_candidates=candidates.take(pa.array(list(best.values()),
                                                 pa.int64())),
        terms=terms)
