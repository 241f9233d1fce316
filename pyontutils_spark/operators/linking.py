"""Stage 3: candidate entity-link scoring (broadcast hash join).

The reference resolves a surface form by probing label and synonym
indexes in priority order (``exhaustive_label_check``,
``ilxutils/ilxutils/interlex_ingestion.py:103-117, 246-287``) — an
exact-label hit outranks a synonym hit.  Our scoring: label=1.0,
synonym=0.9, deterministic tie-break by natsort of the curie.

Scale design: the top-1 winner depends ONLY on ``pattern_norm``, never
on the mention row — so the argmax is computed once per pattern on the
driver (lexicon-sized, tiny) and linking is a single broadcast hash
join with NO shuffle and NO window over the 10^12-row mention table.
The argmax runs inside the lexicon compile pass
(``lexcompile.compile_lexicon``), which the triple factory runs once per
call and shares with the mention stage and entity-triple emission;
``candidates_df`` ships its table to Spark as one Arrow stream.  The
full candidate table (with scores) is still exposed for the
scoring/inspection path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.norm import natsort_key, token_set_ratio
from .lexcompile import (  # noqa: F401  (scores are part of this API)
    SCORE_LABEL, SCORE_SYNONYM, CompiledLexicon, compile_lexicon,
    term_patterns)

#: fuzzy tier: score = SCORE_FUZZY_BASE * token_set_ratio, so any fuzzy
#: hit (< 0.8) always ranks below every exact label (1.0) / synonym
#: (0.9) hit — the ordered-probe priority of the reference's
#: exhaustive checks with nltklib similarity as the last resort
#: (ilxutils/interlex_ingestion.py:103-117; nltklib.py:36-70).
SCORE_FUZZY_BASE = 0.8


def fuzzy_candidate_rows(patterns: list[str], lexicon: list[dict],
                         min_ratio: float = 0.6) -> list[dict]:
    """Third scoring tier: for surface patterns with NO exact
    label/synonym candidate, score against every lexicon label +
    synonym by public token-set similarity and keep the best match per
    pattern above ``min_ratio``, scored ``SCORE_FUZZY_BASE * ratio``.

    Driver-side like the other candidate builders — both operands are
    lexicon-scale (the pattern vocabulary is bounded by the automaton's
    pattern set), and the result ships to executors as one broadcast.
    Candidates are BLOCKED by shared character trigrams through an
    inverted index (trigram -> lexicon strings), so cost is
    O(patterns x block size), not O(patterns x lexicon): any pair with
    similarity >= min_ratio necessarily shares trigrams (both shared
    tokens and single-token typos do), while unrelated strings are
    never scored.  Ties break by natsort of the curie, like the exact
    tiers' argmax."""

    def grams(s: str) -> set:
        return ({s[i:i + 3] for i in range(len(s) - 2)}
                if len(s) >= 3 else {s})

    exact = {p for t in lexicon for p, _ in term_patterns(t) if p}
    # inverted index: trigram -> [(cand_text, is_synonym, term)]
    index: dict[str, list] = {}
    all_entries: list = []
    for t in lexicon:
        for cand_text, is_syn in term_patterns(t):
            entry = (cand_text, is_syn, t)
            all_entries.append(entry)
            for g in grams(cand_text):
                index.setdefault(g, []).append(entry)
    out: dict[str, dict] = {}
    for pat in patterns:
        if pat in exact:
            continue
        if len(pat) < 3:
            # a <3-char pattern has no trigram to block on (its
            # whole-string fallback gram is never indexed by >=3-char
            # candidates) — score it against the full lexicon so the
            # "never missed above min_ratio" claim holds. Short
            # patterns are rare; cost is bounded by the lexicon size.
            block = {id(e): e for e in all_entries}
        else:
            block = {id(e): e for g in grams(pat)
                     for e in index.get(g, ())}
        best_key = None
        best = None
        for cand_text, is_syn, t in block.values():
            ratio = token_set_ratio(pat, cand_text)
            if ratio < min_ratio:
                continue
            key = (-ratio, natsort_key(t["curie"]))
            if best_key is None or key < best_key:
                best_key = key
                best = dict(pattern_norm=pat, term_id=t["term_id"],
                            curie=t["curie"], iri=t["iri"],
                            score=SCORE_FUZZY_BASE * ratio,
                            is_synonym=is_syn)
        if best is not None:
            out[pat] = best
    return list(out.values())


def candidates_df(spark: SparkSession,
                  lexicon: list[dict] | CompiledLexicon,
                  min_length: int = 3, best_only: bool = True) -> DataFrame:
    """(pattern_norm, term_id, curie, iri, score, is_synonym) candidates
    of patterns at least ``min_length`` long: the top-1 per pattern
    (``best_only``) or all of them.  Shipped as one Arrow table from the
    compiled lexicon; a raw lexicon is compiled first."""
    lex = compile_lexicon(lexicon, min_length)
    return spark.createDataFrame(
        lex.best_candidates if best_only else lex.candidates)


def label_and_definition_check(probes: DataFrame, lexicon_df: DataFrame
                               ) -> DataFrame:
    """combo_exhaustive_label_definition_check
    (interlex_ingestion.py:441-497): union of a label-probe join and a
    definition-probe join, deduped by row tuple.

    probes(probe string); lexicon_df(iri, label, definition)."""
    norm = F.lower(F.trim("probe"))
    by_label = probes.join(
        lexicon_df, norm == F.lower(F.trim(lexicon_df.label))) \
        .select("probe", "iri", F.lit("label").alias("matched_on"))
    by_def = probes.join(
        lexicon_df, norm == F.lower(F.trim(lexicon_df.definition))) \
        .select("probe", "iri", F.lit("definition").alias("matched_on"))
    return by_label.unionByName(by_def) \
        .dropDuplicates(["probe", "iri", "matched_on"])


def fragment_check(probes: DataFrame, lexicon_df: DataFrame) -> DataFrame:
    """exhaustive_fragment_check (interlex_ingestion.py:375; int-tail
    extraction :51-68): join probe IRIs to lexicon IRIs on the trailing
    integer fragment."""
    tail = lambda c: F.regexp_extract(c, r"(\d+)$", 1)  # noqa: E731
    p = probes.select("probe", tail(F.col("probe")).alias("frag")) \
        .filter(F.col("frag") != "")
    l = lexicon_df.select("iri", tail(F.col("iri")).alias("frag")) \
        .filter(F.col("frag") != "")
    return p.join(l, "frag").select("probe", "iri", "frag")


def link_mentions(mentions: DataFrame, cands: DataFrame) -> DataFrame:
    """mentions ⋈ broadcast(best-candidates) on pattern_norm.

    Inner join: patterns without candidates (can't happen when the
    automaton and candidate table come from the same lexicon, but can
    when category filters differ) simply drop out.
    """
    return mentions.join(F.broadcast(cands), "pattern_norm", "inner")
