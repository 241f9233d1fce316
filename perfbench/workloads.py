"""Workload definitions, seeded input generation and the golden oracle.

A workload's seed selects the page-index window ``[seed*N, (seed+1)*N)``
of ``synth.make_page``, so every seed is a disjoint corpus and any seed
not used while tuning is a holdout.  Each workload's lexicon is fixed.

Inputs and the golden figures are cached per (workload spec, seed)
under the benchmark's work directory; generation and the oracle are not
part of any timed region.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

from pyontutils_spark.synth import golden
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_page

CACHE_VERSION = 1
#: pages are written as this many equal files, so the scan splits into
#: that many balanced tasks whatever the core count
PAGE_FILES = 16


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    #: sentence-count multiplier of make_page
    scale: int
    n_terms: int
    #: "html": text null on every page; "text": every page pre-extracted
    text: str
    #: > 0: composed terms share their label in groups of this size
    label_group: int
    why: str


WORKLOADS = {w.name: w for w in (
    Workload("factory_html", 1500, 4, 200, "html", 0,
             "raw HTML only, 4x sentences, 200 terms: extraction and the "
             "fused extract+match Python pass dominate"),
    Workload("factory_lexicon", 1200, 1, 20_000, "text", 4,
             "pre-extracted text, 20k terms sharing labels in 4s (pure-"
             "Python matcher): the automaton, candidate and entity-row "
             "builds dominate; extraction is bypassed"),
)}

SMOKE_PAGES = 60


def smoke(w: Workload) -> Workload:
    return dataclasses.replace(w, pages=SMOKE_PAGES)


def lexicon(w: Workload) -> list[dict]:
    lex = make_lexicon(w.n_terms)
    if w.label_group:
        # composed terms (ids >= 10) take the label of their group's
        # first member and keep their own label as a synonym, so each
        # is still linked while the labels form sameAs groups
        own = [t["label"] for t in lex]
        for t in lex[10:]:
            head = 10 + (t["term_id"] - 10) // w.label_group * w.label_group
            t["synonyms"] = [own[t["term_id"]], *t["synonyms"]]
            t["label"] = own[head]
            t["label_norm"] = lex[head]["label_norm"]
    return lex


def make_pages(w: Workload, seed: int, lex: list[dict]) -> list[dict]:
    pages = []
    for i in range(seed * w.pages, (seed + 1) * w.pages):
        p = make_page(i, lex, scale=w.scale)
        if w.text == "html":
            p["text"] = None
        elif w.text == "text":
            p["text"] = p["golden_text"]
        pages.append(p)
    return pages


def checksum(triples) -> tuple[int, int]:
    """(count, checksum) with the bytes and arithmetic of
    ``operators.ordering.commutative_checksum`` (no datatypes or
    language tags occur in the factory's output)."""
    total = 0
    for s, p, o, lit in triples:
        key = "\x1d".join((s, p, o, "true" if lit else "false", "", ""))
        total += int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)
    return len(triples), total % 2 ** 61


_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def _write_pages(pages: list[dict], path: str) -> None:
    os.makedirs(path)
    per = -(-len(pages) // PAGE_FILES)
    for k in range(0, len(pages), per):
        chunk = pages[k:k + per]
        table = pa.table({
            "url": [p["url"] for p in chunk],
            "warc_ts": [p["warc_ts"].astimezone(timezone.utc)
                        for p in chunk],
            "html": [p["html"] for p in chunk],
            "text": [p["text"] for p in chunk],
            "lang": [p["lang"] for p in chunk],
        }, schema=_PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k // per:03d}"
                                                 ".parquet"))


class Inputs:
    """One workload's cached inputs for one seed."""

    def __init__(self, w: Workload, seed: int, cache_root: str):
        self.workload = w
        self.seed = seed
        spec = repr((CACHE_VERSION, dataclasses.replace(w, why="")))
        self.dir = os.path.join(cache_root, f"{w.name}-s{seed}-" + hashlib
                                .sha1(spec.encode()).hexdigest()[:12])
        self.pages_path = os.path.join(self.dir, "pages")
        self.triples_path = os.path.join(self.dir, "triples")
        self.lexicon = lexicon(w)
        gpath = os.path.join(self.dir, "golden.json")
        if not os.path.exists(gpath):
            self._generate()
        with open(gpath) as fh:
            self.golden = json.load(fh)

    def _generate(self) -> None:
        w = self.workload
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(tmp)
        pages = make_pages(w, self.seed, self.lexicon)
        _write_pages(pages, os.path.join(tmp, "pages"))
        corpus = golden.corpus_triples(pages, self.lexicon)
        canon = golden.canonicalized_corpus_triples(pages, self.lexicon)
        g = {
            "pages": len(pages),
            "html_rows": sum(p["text"] is None for p in pages),
            "corpus": checksum(corpus),
            "canonical": checksum(canon),
            "canonical_subjects": len({t[0] for t in canon}),
        }
        with open(os.path.join(tmp, "golden.json"), "w") as fh:
            json.dump(g, fh)
        os.replace(tmp, self.dir)
