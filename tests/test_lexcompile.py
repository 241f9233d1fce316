"""The compiled lexicon side of the triple factory: columnar entity
triples equal the golden per-term generator, the compiled argmax equals
the row-dict argmax it replaced, the factory matches the golden corpus
on both matcher paths, and entity triples are generated in the JVM
after the left-semi join (no per-triple rows shipped from the driver)."""

import re

import pytest

from pyontutils_spark.kernel.curies import DEFAULT as PREFIXES
from pyontutils_spark.kernel.norm import local_degrade, natsort_key
from pyontutils_spark.operators import emit, linking
from pyontutils_spark.operators.lexcompile import compile_lexicon
from pyontutils_spark.plans.pipeline import run_triple_factory
from pyontutils_spark.synth import golden
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_page
from pyontutils_spark.synth.spark_gen import pages_df_local


def _term(term_id, curie, label, synonyms=(), definition="", parents=(),
          deprecated=False, replaced_by=None):
    return dict(term_id=term_id, curie=curie, iri=PREFIXES.expand(curie),
                label=label, label_norm=local_degrade(label),
                synonyms=list(synonyms), definition=definition,
                type="term", parents=list(parents), deprecated=deprecated,
                replaced_by=replaced_by)


EDGE_LEX = [
    _term(0, "ILX:100000", "hippocampus", ["Ammon's horn"],
          "a medial temporal lobe structure"),
    # deprecated with a replacement
    _term(1, "ILX:100001", "cornu ammonis", definition="old term",
          deprecated=True, replaced_by="ILX:100000"),
    # parents given as CURIEs of two prefixes
    _term(2, "BIRNLEX:100002", "dentate gyrus", ["DG gyrus"], "a gyrus",
          parents=["ILX:100000", "UBERON:100003"]),
    # empty definition, no synonyms
    _term(3, "NLX:100003", "granule cell"),
    # a synonym shorter than min_length still yields its triple
    _term(4, "NLXCELL:100004", "purkinje cell", ["PC", "Purkinje Neuron"],
          "a cerebellar neuron"),
    # deprecated without a replacement; replacement on a live term
    _term(5, "ILX:100005", "lost term", deprecated=True),
    _term(6, "ILX:100006", "live term", replaced_by="ILX:100000"),
]


def _triples_by_subj(df):
    out = {}
    for r in df.collect():
        assert r.obj_datatype is None and r.obj_lang is None
        out.setdefault(r.subj, set()).add(
            (r.subj, r.pred, r.obj, r.obj_is_literal))
    return out


def test_entity_triples_equal_golden_per_term(spark):
    got = _triples_by_subj(emit.entity_triples(spark, EDGE_LEX))
    want = {t["iri"]: set(golden.entity_triples(t)) for t in EDGE_LEX}
    assert got == want


def test_entity_triples_restricted_to_linked_terms(spark):
    linked = spark.createDataFrame([(1,), (3,), (3,), (6,)], "term_id long")
    got = _triples_by_subj(emit.entity_triples(
        spark, compile_lexicon(EDGE_LEX), linked))
    want = {t["iri"]: set(golden.entity_triples(t))
            for t in EDGE_LEX if t["term_id"] in (1, 3, 6)}
    assert got == want


# --- candidate argmax --------------------------------------------------

def _reference_best(lexicon, min_length):
    """The row-dict argmax the compiled table replaced: per pattern, max
    score, then natsort-min curie; the first row wins an equal key."""
    rows = []
    for t in lexicon:
        cands = [(t["label_norm"], 1.0, False)] + [
            (local_degrade(s), 0.9, True) for s in t.get("synonyms", ())]
        for pat, score, is_syn in cands:
            if len(pat) >= min_length:
                rows.append(dict(pattern_norm=pat, term_id=t["term_id"],
                                 curie=t["curie"], iri=t["iri"],
                                 score=score, is_synonym=is_syn))
    best = {}
    for r in rows:
        key = (-r["score"], natsort_key(r["curie"]))
        cur = best.get(r["pattern_norm"])
        if cur is None or key < cur[0]:
            best[r["pattern_norm"]] = (key, r)
    return rows, {p: r for p, (_, r) in best.items()}


def _tie_term(term_id, curie, label, synonyms=()):
    return dict(term_id=term_id, curie=curie, iri=f"http://e/{term_id}",
                label=label, label_norm=local_degrade(label),
                synonyms=list(synonyms))


TIE_LEX = [
    # natsort-min curie wins a label tie: ILX:2 before ILX:10, in
    # whichever order they appear
    _tie_term(0, "ILX:10", "shared cell"),
    _tie_term(1, "ILX:2", "Shared Cell"),
    # a label beats a synonym even with a natsort-smaller curie
    _tie_term(2, "ILX:1", "other cell", ["shared cell", "label wins"]),
    _tie_term(3, "ILX:20", "label wins"),
    # synonym-only ties break by natsort too
    _tie_term(4, "ILX:5", "syn five", ["Twin Term "]),
    _tie_term(5, "ILX:4", "syn four", ["twin term"]),
    # equal natsort keys: the first term keeps the pattern
    _tie_term(6, "ILX:07", "same key"),
    _tie_term(7, "ilx:7", "same key"),
    # a term whose synonym repeats its own label
    _tie_term(8, "ILX:30", "self", ["SELF"]),
    # patterns below min_length are dropped
    _tie_term(9, "ILX:40", "ab", ["x", "abc"]),
]


def _best_table(df):
    return {r.pattern_norm: r.asDict() for r in df.collect()}


@pytest.mark.parametrize("min_length", [3, 5])
def test_candidates_match_row_argmax_on_ties(spark, min_length):
    lex = TIE_LEX + make_lexicon(400)[10:]
    for t in lex[len(TIE_LEX):]:
        # composed terms share labels in groups of 4 (more ties)
        t["label_norm"] = lex[len(TIE_LEX) + (t["term_id"] - 10) // 4 * 4
                              ]["label_norm"]
        t["term_id"] += 100
    rows, want = _reference_best(lex, min_length)
    got = _best_table(linking.candidates_df(spark, lex, min_length))
    assert got == want
    every = linking.candidates_df(spark, lex, min_length, best_only=False)
    assert sorted(map(sorted, (r.asDict().items()
                               for r in every.collect()))) == \
        sorted(map(sorted, (r.items() for r in rows)))


def test_candidates_tie_winners(spark):
    got = {p: (r["curie"], r["is_synonym"]) for p, r in
           _best_table(linking.candidates_df(spark, TIE_LEX)).items()}
    assert got["shared cell"] == ("ILX:2", False)
    assert got["label wins"] == ("ILX:20", False)
    assert got["twin term"] == ("ILX:4", True)
    assert got["same key"] == ("ILX:07", False)
    assert got["self"] == ("ILX:30", False)
    assert got["abc"] == ("ILX:40", True)
    assert "ab" not in got and "x" not in got


# --- factory vs golden on both matcher paths ---------------------------

def _label_grouped_lexicon(n_terms, group=4):
    """Composed terms take their group's first label and keep their own
    label as a synonym: every composed term ties with three others."""
    lex = make_lexicon(n_terms)
    own = [t["label"] for t in lex]
    for t in lex[10:]:
        head = 10 + (t["term_id"] - 10) // group * group
        t["synonyms"] = [own[t["term_id"]], *t["synonyms"]]
        t["label"] = own[head]
        t["label_norm"] = lex[head]["label_norm"]
    return lex


@pytest.mark.parametrize("n_terms,regex_path", [(400, True),
                                                (20_000, False)])
def test_factory_matches_golden_on_both_matcher_paths(spark, n_terms,
                                                      regex_path):
    lex = _label_grouped_lexicon(n_terms)
    compiled = compile_lexicon(lex)
    assert (len(compiled.patterns) <= 20_000) == regex_path
    pages = [make_page(i, lex) for i in range(24)]
    for i, p in enumerate(pages):
        # pre-extracted text on most pages (the JVM regex path when the
        # lexicon is small), raw html on the rest
        p["text"] = None if i % 4 == 0 else p["golden_text"]
    res = run_triple_factory(spark, pages_df_local(spark, pages), compiled)
    try:
        got = {(r.subj, r.pred, r.obj, r.obj_is_literal)
               for r in res.triples.collect()}
    finally:
        res.linked.unpersist()
    assert got == golden.corpus_triples(pages, lex)


# --- plan shape ----------------------------------------------------------

def _subtree(lines, i):
    """Lines of the plan node at line ``i`` and of its descendants."""
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = [lines[i]]
    for line in lines[i + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        out.append(line)
    return out


def test_entity_generate_runs_after_semi_join(spark):
    lex = make_lexicon()
    pages = [make_page(i, lex) for i in range(20)]
    res = run_triple_factory(spark, pages_df_local(spark, pages), lex)
    try:
        res.triples.collect()
        plan = res.triples._jdf.queryExecution().executedPlan().toString()
    finally:
        res.linked.unpersist()
    lines = plan.splitlines()
    assert not [ln for ln in lines if "LocalTableScan" in ln
                and re.search(r"\bpred#", ln)], plan
    # the adaptive plan prints the final and the initial plan: check both
    gens = [i for i, ln in enumerate(lines)
            if re.search(r"Generate explode\(concat\(", ln)]
    assert gens, plan
    for i in gens:
        below = "\n".join(_subtree(lines, i)[1:])
        assert re.search(r"BroadcastHashJoin \[term_id#\d+L\], "
                         r"\[term_id#\d+L\], LeftSemi", below), plan
