"""Seeded Omeka S-shaped corpus for the ``rdf_etl`` workload.

The reference job scans 99 pages of 100 items (its capacity envelope;
this corpus keeps the 99 pages with 25 items each, see README.md),
cleans them, renames and filters predicates, joins one enrichment
document per distinct rijksmonument number and writes Turtle. This
generator builds such a corpus with planted defects whose fate the
generator knows, so the benchmark can check the written Turtle without
trusting the program:

- duplicate ``RM…`` numbers across items (one enrichment fetch per key);
- objects that claim to be IRIs but are not (dropped by cleanup);
- literals carrying ``@context`` JSON-LD garbage (dropped by cleanup);
- references to customvocab terms (dropped by cleanup);
- a few pages that are not valid Turtle (quarantined whole);
- a fixed share of enrichment keys whose endpoint answers 5xx.

Every expected output triple is kept in the canonical form
``(s, p, o, o_kind, o_lang, o_datatype)`` that ``check.py`` reads back.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

SITE = "https://muurschilderingendatabase.nl/"
ITEM = SITE + "api/items/"
TERM = SITE + "api/customvocab-terms/"
VOCAB_CLASS = SITE + "api/custom_vocabs/customvocab-"
MONUMENT = "https://linkeddata.cultureelerfgoed.nl/rce/id/rijksmonument/"
REGISTER = "https://monumentenregister.cultureelerfgoed.nl/monumenten/"

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
O = "http://omeka.org/s/vocabs/o#"
DCTERMS = "http://purl.org/dc/terms/"
SDO = "https://schema.org/"
CEO = "https://linkeddata.cultureelerfgoed.nl/def/ceo#"

PAGE_PREFIXES = {"o": O, "dcterms": DCTERMS, "ceo": CEO, "xsd": XSD, "rdfs": RDFS}

# The CI job's environment surface (reference workflow): one rename and
# two predicate filters, plus one invalid entry of each kind that the
# config loaders must skip.
ENVIRON = {
    "MAP_DCTERMS_title": "SDO.name",
    "MAP_NOSUCHNS_title": "SDO.name",
    "FILTER_1": O + "is_public",
    "FILTER_2": O + "owner",
    "FILTER_3": "not a uri",
}

PAGES = 99
PER_PAGE = 25
RM_SHARE = 0.1  # of items; each RM number is shared by 4/3 items on average
KEYS_PER_RM_ITEM = 0.75
TYPED_SHARE = 0.8
INVALID_IRI_SHARE = 0.03
CONTEXT_SHARE = 0.02
CUSTOMVOCAB_SHARE = 0.05
DESCRIPTION_SHARE = 0.5
MALFORMED_PAGES = 2
FAILING_KEY_SHARE = 0.05
N_TERMS = 20

IRI, LIT = "iri", "literal"


def _iri(x: str) -> tuple:
    return (x, IRI, None, None)


def _lit(x: str, lang: str | None = None, dtype: str | None = None) -> tuple:
    return (x, LIT, lang, dtype)


def _esc(text: str) -> str:
    return (
        text.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    )


@dataclass
class Corpus:
    """Page bodies, stub replies and the triples each well-formed page
    and healthy key must contribute to the output."""

    seed: int
    pages: list[str] = field(default_factory=list)
    malformed: set[int] = field(default_factory=set)  # 1-based page numbers
    context_body: str = ""
    enrichment: dict[str, str | None] = field(default_factory=dict)  # None = 5xx
    expected_by_page: dict[int, set] = field(default_factory=dict)
    expected_by_key: dict[str, set] = field(default_factory=dict)
    prefixes: dict[str, str] = field(default_factory=dict)

    @property
    def healthy_keys(self) -> list[str]:
        return sorted(k for k, v in self.enrichment.items() if v is not None)

    @property
    def failing_keys(self) -> list[str]:
        return sorted(k for k, v in self.enrichment.items() if v is None)

    def expected(self) -> set:
        out: set = set()
        for triples in self.expected_by_page.values():
            out |= triples
        for triples in self.expected_by_key.values():
            out |= triples
        return out

    def summary(self) -> dict:
        return {
            "seed": self.seed,
            "pages": len(self.pages),
            "malformed_pages": sorted(self.malformed),
            "keys": len(self.enrichment),
            "failing_keys": len(self.failing_keys),
            "expected_triples": len(self.expected()),
        }


def generate(seed: int, pages: int = PAGES, per_page: int = PER_PAGE) -> Corpus:
    rnd = random.Random(seed)
    corpus = Corpus(seed=seed)
    corpus.malformed = set(rnd.sample(range(2, pages + 1), MALFORMED_PAGES))

    # Exact counts, so that the seed changes which items and keys carry
    # the defects but not how much work a run does.
    n_items = pages * per_page
    rm_items = rnd.sample(range(1, n_items + 1), int(n_items * RM_SHARE))
    keys = [str(k) for k in rnd.sample(range(1, 600_000), int(len(rm_items) * KEYS_PER_RM_ITEM))]
    item_key = {
        item: keys[i] if i < len(keys) else rnd.choice(keys)
        for i, item in enumerate(rm_items)
    }
    key_pages: dict[str, set[int]] = {}

    header = "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in PAGE_PREFIXES.items())
    for page in range(1, pages + 1):
        lines = [header]
        expected: set = set()
        if page == 1:
            for k in range(N_TERMS):
                term = f"{TERM}{k}"
                lines.append(
                    f'<{term}> a <{VOCAB_CLASS}{k % 3}> ; rdfs:label "Term {k}"@nl .\n'
                )
                expected.add((term, RDF + "type", *_iri(f"{VOCAB_CLASS}{k % 3}")))
                expected.add((term, RDFS + "label", *_lit(f"Term {k}", "nl")))
        for j in range(per_page):
            item_id = (page - 1) * per_page + j + 1
            s = f"{ITEM}{item_id}"
            title = f"Muurschildering {item_id} in {rnd.choice(['kerk', 'kapel', 'kasteel', 'raadhuis'])}"
            created = str(rnd.randrange(1100, 1950))
            geo = f"https://sws.geonames.org/{rnd.randrange(2_740_000, 2_760_000)}/"
            body = [
                "a o:Item",
                f"o:id {item_id}",
                "o:is_public true",
                f"o:owner <{SITE}api/users/{rnd.randrange(1, 6)}>",
                f'dcterms:title "{_esc(title)}"@nl',
                f'dcterms:created "{created}"^^xsd:gYear',
                f"dcterms:spatial <{geo}>",
            ]
            expected.add((s, RDF + "type", *_iri(O + "Item")))
            expected.add((s, O + "id", *_lit(str(item_id), dtype=XSD + "integer")))
            expected.add((s, SDO + "name", *_lit(title, "nl")))
            expected.add((s, DCTERMS + "created", *_lit(created, dtype=XSD + "gYear")))
            expected.add((s, DCTERMS + "spatial", *_iri(geo)))
            if rnd.random() < DESCRIPTION_SHARE:
                text = f'Schildering "{item_id}"\n\tmet tekst\\band'
                body.append(f'dcterms:description "{_esc(text)}"')
                expected.add((s, DCTERMS + "description", *_lit(text)))
            if item_id in item_key:
                key = item_key[item_id]
                rm = f"RM{key}"
                body.append(f'ceo:rijksmonumentnummer "{rm}"')
                expected.add((s, CEO + "rijksmonumentnummer", *_lit(rm)))
                if rnd.random() < TYPED_SHARE:
                    body[0] += ", ceo:Rijksmonument"
                    expected.add((s, RDF + "type", *_iri(CEO + "Rijksmonument")))
                    expected.add((s, SDO + "sameAs", *_lit(rm)))
                key_pages.setdefault(key, set()).add(page)
            if rnd.random() < INVALID_IRI_SHARE:
                body.append(f"dcterms:source <bron-{item_id}>")
            if rnd.random() < CONTEXT_SHARE:
                garbage = json.dumps({"@context": SITE + "api-context"})
                body.append(f'dcterms:abstract "{_esc(garbage)}"')
            if rnd.random() < CUSTOMVOCAB_SHARE:
                body.append(f"dcterms:type <{TERM}{rnd.randrange(N_TERMS)}>")
            lines.append(f"<{s}> " + " ;\n    ".join(body) + " .\n")
        if page in corpus.malformed:
            # An IRI with a space: no Turtle tokenizer accepts it, so the
            # whole page is quarantined.
            cut = len(lines) // 2
            lines.insert(cut, f"<{SITE}broken page {page}> a o:Item .\n")
        else:
            corpus.expected_by_page[page] = expected
        corpus.pages.append("".join(lines))

    # Keys seen only on quarantined pages are never fetched.
    fetched = sorted(k for k, pages_ in key_pages.items() if pages_ - corpus.malformed)
    failing = set(rnd.sample(fetched, round(len(fetched) * FAILING_KEY_SHARE)))
    for key in fetched:
        if key in failing:
            corpus.enrichment[key] = None
            continue
        m = f"{MONUMENT}{key}"
        corpus.enrichment[key] = (
            f"<{m}> a <{CEO}Rijksmonument> ;\n"
            f'    <{DCTERMS}identifier> "{key}" ;\n'
            f"    <{SDO}url> <{REGISTER}{key}> .\n"
        )
        corpus.expected_by_key[key] = {
            (m, RDF + "type", *_iri(CEO + "Rijksmonument")),
            (m, DCTERMS + "identifier", *_lit(key)),
            (m, SDO + "url", *_iri(f"{REGISTER}{key}")),
        }

    # api-context as Omeka S serves it: JSON-escaped IRIs (the reference
    # strips the backslashes) and one non-string entry that is skipped.
    context = {p: ns.replace("/", "\\/") for p, ns in PAGE_PREFIXES.items()}
    context["sdo"] = SDO
    context["o:Item"] = {"@id": O + "Item"}
    corpus.context_body = json.dumps({"@context": context})
    corpus.prefixes = {**PAGE_PREFIXES, "sdo": SDO}
    return corpus
