"""Read back the Turtle that ``write_turtle`` produces and compare it
with what the generator planted.

The reader is independent of the program's parser. It accepts the
writer's statement-per-line form: ``@prefix`` lines, then one
``subject predicate object .`` per line, where a term is ``<iri>``, a
prefixed name, a blank node or a quoted literal with ``@lang`` or
``^^datatype``.
"""

from __future__ import annotations

import glob
import os
import re

from perfbench.corpus import Corpus

_PREFIX = re.compile(r"@prefix ([A-Za-z0-9_.-]*): <([^>]*)> \.$")
_TERM = re.compile(
    r"""\s*(?:
        <(?P<iri>[^>]*)>
      | (?P<pname>[A-Za-z0-9_.-]*:[A-Za-z0-9_.-]*)
      | (?P<bnode>_:\S+)
      | "(?P<lit>(?:[^"\\]|\\.)*)"(?:@(?P<lang>[A-Za-z0-9-]+)|\^\^(?P<dt><[^>]*>|[A-Za-z0-9_.-]*:[A-Za-z0-9_.-]*))?
    )""",
    re.VERBOSE,
)
_UNESCAPE = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}


def _unescape(text: str) -> str:
    return re.sub(r"\\(.)", lambda m: _UNESCAPE.get(m.group(1), "\\" + m.group(1)), text)


def read_turtle_lines(path: str) -> list[tuple]:
    """All triples in the part files under ``path``, in canonical form.
    Raises ValueError on a line that is not a triple."""
    prefixes: dict[str, str] = {}

    def expand(pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in prefixes:
            raise ValueError(f"undeclared prefix in {pname!r}")
        return prefixes[pfx] + local

    triples: list[tuple] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                m = _PREFIX.match(line)
                if m:
                    prefixes[m.group(1)] = m.group(2)
                    continue
                terms, pos = [], 0
                for _ in range(3):
                    t = _TERM.match(line, pos)
                    if t is None:
                        raise ValueError(f"not a triple: {line[:200]!r}")
                    terms.append(t)
                    pos = t.end()
                if line[pos:].strip() != ".":
                    raise ValueError(f"not a triple: {line[:200]!r}")

                def node(t) -> tuple[str, str]:
                    if t.group("iri") is not None:
                        return t.group("iri"), "iri"
                    if t.group("pname") is not None:
                        return expand(t.group("pname")), "iri"
                    return t.group("bnode"), "bnode"

                s, _ = node(terms[0])
                p, _ = node(terms[1])
                o = terms[2]
                if o.group("lit") is not None:
                    dt = o.group("dt")
                    if dt is not None:
                        dt = dt[1:-1] if dt.startswith("<") else expand(dt)
                    triples.append((s, p, _unescape(o.group("lit")), "literal", o.group("lang"), dt))
                else:
                    value, kind = node(o)
                    triples.append((s, p, value, kind, None, None))
    return triples


def check_output(corpus: Corpus, triples: list[tuple]) -> dict:
    """Failed = well-formed pages plus healthy enrichment keys with at
    least one expected triple missing; triples nobody planted are
    reported as ``unexpected``."""
    got = set(triples)
    missing_pages = [
        page for page, exp in corpus.expected_by_page.items() if not exp <= got
    ]
    missing_keys = [
        key for key, exp in corpus.expected_by_key.items() if not exp <= got
    ]
    unexpected = got - corpus.expected()
    attempted = len(corpus.expected_by_page) + len(corpus.expected_by_key)
    failed = len(missing_pages) + len(missing_keys)
    return {
        "attempted": attempted,
        "failed": failed,
        "missing_pages": missing_pages[:10],
        "missing_keys": missing_keys[:10],
        "unexpected": len(unexpected),
        "unexpected_sample": sorted(unexpected)[:3],
        "duplicates": len(triples) - len(got),
        "correct": failed == 0 and not unexpected and len(triples) == len(got),
    }


def check_written(corpus: Corpus, path: str) -> dict:
    """``check_output`` on the Turtle under ``path``; output the reader
    cannot read fails every check."""
    try:
        triples = read_turtle_lines(path)
    except ValueError as exc:
        n = len(corpus.expected_by_page) + len(corpus.expected_by_key)
        return {"attempted": n, "failed": n, "error": repr(exc)[:500], "correct": False}
    return check_output(corpus, triples)
