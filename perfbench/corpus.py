"""Seeded generator of Lovdata-shaped XML trees and daily change sets.

The tree layout is the one ``read_xml_corpus`` scans:
``<root>/<dataset>/<doc_id>.xml``. Every document is drawn from its own
``random.Random`` seeded by (seed, doc index, version), so a change set
can rewrite one document without touching the others, and the same
seed always gives byte-identical files.

Document kinds follow the fixture families of ``tests/fixtures.py``:

* ``standard`` — chapters (``section.section``) of ``legalArticle``
  with ``legalP`` ledd; some ledd carry lists, continuation paragraphs
  and cross-references, and many are short enough to be merged;
* ``change`` — ``legalP`` grouped directly under sections (tier 2);
* ``simple`` — ``legalP`` directly under the document body (tier 3);
* ``oversize`` — a standard law with one plain ledd of 7k–14k tokens,
  which the chunker splits with sentence overlap;
* ``listsplit`` — a standard law with one over-max ledd made of lists,
  which the chunker splits on list boundaries;
* ``empty`` — a document body without ledd: a success with zero chunks;
* ``malformed`` — truncated XML: a poison document.

A tree starts with the first five kinds; the daily change sets empty
documents, break them and fix them again.

Token sizes are estimated with the word-piece rule of the package's
fallback counter (one token per 4 characters of a word, one per
symbol). The generator does not import the package, so its output does
not change when the program does.
"""

from __future__ import annotations

import math
import random
import shutil
import statistics
from dataclasses import dataclass
from pathlib import Path

DATASETS = ("gjeldende-lover", "gjeldende-sentrale-forskrifter")

WORDS = (
    "loven departementet kommunen staten virksomheten tilsynet søknaden "
    "vedtaket klagen fristen retten plikten adgangen bestemmelsen forskriften "
    "myndigheten eieren leietakeren arbeidsgiveren arbeidstakeren foretaket "
    "registeret opplysningene dokumentene beløpet avgiften gebyret tillatelsen "
    "meldingen avtalen kontrakten eiendommen grunnen bygningen tiltaket "
    "anlegget området miljøet helsen sikkerheten personvernet opplæringen "
    "skal kan må bør gjelder omfatter fastsetter treffer gir krever sikrer "
    "utarbeider behandler avgjør oppnevner fører melder betaler dekker "
    "etter før innen uten med for mot over under ved om til fra av "
    "særlige nærmere alminnelige offentlige private vesentlige rimelige "
    "nødvendige skriftlige muntlige tidligere gjeldende samlede enkelte "
    "og eller samt dersom når hvis slik annen andre første andre tredje "
    "ledd paragraf kapittel nummer bokstav punktum lov forskrift vilkår "
    "frist sak part organ klage vedtak dom tvist skade erstatning straff"
).split()

_TITLES = (
    "Formål", "Virkeområde", "Definisjoner", "Plikter", "Tilsyn",
    "Klage", "Gebyr", "Sanksjoner", "Ikrafttredelse", "Overgangsregler",
    "Meldeplikt", "Taushetsplikt", "Dispensasjon", "Forskrifter", "Søknad",
)

_ENVELOPE = (
    '<?xml version="1.0" encoding="UTF-8"?>\n<!DOCTYPE html>\n'
    '<html lang="no">\n<head><title>{title}</title></head>\n<body>\n'
    '<main class="documentBody" id="dokument">\n<h1>{title}</h1>\n{body}'
    "</main>\n</body>\n</html>\n"
)


def word_tokens(word: str) -> int:
    """Token cost of one word under the fallback counter's rule."""
    return max(1, math.ceil(len(word) / 4))


#: documents per generated tree
N_DOCS = 60
#: documents of each special kind in a tree; the rest are ``standard``.
#: Empty and malformed documents arrive only through the daily change
#: sets (see ``Corpus.apply_day``).
KIND_COUNTS = {"oversize": 2, "listsplit": 1, "change": 5, "simple": 5}
#: token sizes of the oversize ledd are evenly spaced over this range,
#: endpoints included
OVERSIZE_TOKENS = (7000, 14000)
#: words per sentence: 3-5 words of about 2.1 tokens, about 9.4 tokens
#: a sentence. ``chunk_document`` splits ledd of documents.parquet text
#: of about 9k and 13.5k tokens into 141 and 1479 chunks (126k and 2.78M
#: tokens out); generated ledd of those sizes give 141 and 1412 chunks
#: (127k and 2.64M tokens out)
SENTENCE_WORDS = (3, 5)
#: articles per standard law: log-normal median and sigma, clip range
ARTICLES_MEDIAN, ARTICLES_SIGMA, ARTICLES_RANGE = 5.0, 0.8, (1, 30)
#: shares of a day's change set
DAY_MODIFIED, DAY_ADDED, DAY_REMOVED = 0.03, 0.01, 0.01


def kinds() -> list[str]:
    """The kind of every document index, the same for every seed."""
    special = [k for k, c in KIND_COUNTS.items() for _ in range(c)]
    out = ["standard"] * N_DOCS
    # spread the special kinds evenly over the index range
    step = N_DOCS / len(special)
    for i, kind in enumerate(special):
        out[int(i * step + step / 2)] = kind
    return out


def article_counts(seed: int) -> list[int]:
    """Articles per document index: the log-normal's quantiles at evenly
    spaced levels, dealt out in a seeded order, so every seed has the
    same multiset of document sizes."""
    lo, hi = ARTICLES_RANGE
    dist = statistics.NormalDist(math.log(ARTICLES_MEDIAN), ARTICLES_SIGMA)
    levels = list(range(N_DOCS))
    random.Random(f"lovdata-bench-sizes:{seed}").shuffle(levels)
    return [
        min(hi, max(lo, round(math.exp(dist.inv_cdf((k + 0.5) / N_DOCS)))))
        for k in levels
    ]


def oversize_sizes() -> list[int]:
    k = KIND_COUNTS["oversize"]
    lo, hi = OVERSIZE_TOKENS
    return [round(lo + (hi - lo) * i / (k - 1)) for i in range(k)]


class _Text:
    """Sentence and ledd text drawn from one Random stream."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def sentence(self) -> tuple[str, int]:
        n = self.rng.randint(*SENTENCE_WORDS)
        words = [self.rng.choice(WORDS) for _ in range(n)]
        words[0] = words[0].capitalize()
        tokens = sum(word_tokens(w) for w in words) + 1
        return " ".join(words) + ".", tokens

    def sentences(self, tokens: int) -> tuple[str, int]:
        parts, total = [], 0
        while total < tokens:
            s, t = self.sentence()
            parts.append(s)
            total += t
        return " ".join(parts), total

    def ledd_tokens(self) -> int:
        r = self.rng.random()
        if r < 0.35:
            return self.rng.randint(10, 60)  # short: merged with neighbours
        if r < 0.85:
            return self.rng.randint(80, 600)
        return self.rng.randint(600, 2500)


def _doc_id(seed: int, index: int) -> str:
    year = 1990 + (index * 7 + seed) % 35
    return f"lov-{year}-{1 + index % 12:02d}-{1 + index % 28:02d}-{index:05d}"


def _cross_ref(rng: random.Random) -> str:
    year = rng.randint(1950, 2024)
    return (
        f'<a href="/lov/{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}'
        f'-{rng.randint(1, 99)}/§{rng.randint(1, 80)}">lov {year} § {rng.randint(1, 80)}</a>'
    )


def _list_xml(text: _Text, items: int) -> str:
    lis = []
    for j in range(items):
        body, _ = text.sentences(text.rng.randint(8, 60))
        lis.append(f'<li data-name="{chr(97 + j % 26)})">{body}</li>')
    return "<ol>" + "".join(lis) + "</ol>"


def _ledd_xml(text: _Text, ledd_id: str, address: str, tokens: int) -> str:
    rng = text.rng
    body, _ = text.sentences(tokens)
    inner = body
    if rng.random() < 0.2:
        inner += " Se " + _cross_ref(rng) + "."
    if rng.random() < 0.15:
        inner += " " + _list_xml(text, rng.randint(2, 5))
        if rng.random() < 0.5:
            cont, _ = text.sentences(rng.randint(10, 40))
            inner += f'<p class="leddfortsettelse">{cont}</p>'
    return (
        f'<article class="legalP" id="{ledd_id}" '
        f'data-absoluteaddress="{address}">{inner}</article>\n'
    )


def _article_xml(text: _Text, doc_id: str, n: int, ledds: list[str]) -> str:
    rng = text.rng
    title = (
        f'<span class="legalArticleTitle">{rng.choice(_TITLES)}</span>'
        if rng.random() < 0.8
        else ""
    )
    return (
        f'<article class="legalArticle" data-lovdata-URL="NL/lov/{doc_id}/§{n}" '
        f'id="paragraf-{n}">\n<h2 class="legalArticleHeader">'
        f'<span class="legalArticleValue">§ {n}</span>{title}</h2>\n'
        + "".join(ledds)
        + "</article>\n"
    )


def _standard_body(text: _Text, doc_id: str, big_ledd: str | None,
                   n_articles: int | None) -> str:
    rng = text.rng
    if n_articles is None:
        lo, hi = ARTICLES_RANGE
        n_articles = int(min(hi, max(lo, round(
            rng.lognormvariate(math.log(ARTICLES_MEDIAN), ARTICLES_SIGMA)))))
    n_chapters = max(1, min(6, n_articles // 4))
    per_chapter = math.ceil(n_articles / n_chapters)
    big_at = rng.randrange(n_articles) if big_ledd is not None else -1
    out, art = [], 0
    for c in range(n_chapters):
        arts = []
        for _ in range(per_chapter):
            if art >= n_articles:
                break
            art += 1
            ledds = []
            for k in range(1, rng.randint(1, 4) + 1):
                lid = f"paragraf-{art}-ledd-{k}"
                addr = f"/lov/{doc_id}/§{art}/ledd{k}"
                ledds.append(_ledd_xml(text, lid, addr, text.ledd_tokens()))
            if art - 1 == big_at:
                ledds.append(big_ledd.format(art=art))
            arts.append(_article_xml(text, doc_id, art, ledds))
        out.append(
            f'<section class="section">\n<h2>Kapittel {c + 1}. {rng.choice(_TITLES)}</h2>\n'
            + "".join(arts)
            + "</section>\n"
        )
    return "".join(out)


def _change_body(text: _Text) -> str:
    rng = text.rng
    out = []
    for s in range(rng.randint(1, 4)):
        ps = []
        for k in range(rng.randint(2, 8)):
            body, _ = text.sentences(rng.randint(40, 900))
            ps.append(f'<article class="legalP" id="endring-{s + 1}-{k + 1}">{body}</article>\n')
        out.append(f'<section class="section">\n<h2>{"I II III IV".split()[s]}</h2>\n' + "".join(ps) + "</section>\n")
    return "".join(out)


def _simple_body(text: _Text) -> str:
    rng = text.rng
    out = []
    for k in range(rng.randint(1, 8)):
        body, _ = text.sentences(text.ledd_tokens())
        out.append(
            f'<article class="legalP" id="ledd-{k + 1}" '
            f'data-absoluteaddress="/ledd{k + 1}">{body}</article>\n'
        )
    return "".join(out)


def generate_document(seed: int, index: int, kind: str, version: int,
                      oversize_tokens: int | None = None,
                      n_articles: int | None = None) -> tuple[str, str, bytes]:
    """(dataset, doc_id, xml bytes) of one document version; a standard
    law draws its article count when ``n_articles`` is not given."""
    rng = random.Random(f"lovdata-bench:{seed}:{index}:{version}")
    text = _Text(rng)
    doc_id = _doc_id(seed, index)
    dataset = DATASETS[index % len(DATASETS)]
    title = f"Lov om {rng.choice(_TITLES).lower()} nr. {index}"
    if kind == "standard":
        body = _standard_body(text, doc_id, None, n_articles)
    elif kind == "oversize":
        big, _ = text.sentences(oversize_tokens or OVERSIZE_TOKENS[1])
        ledd = ('<article class="legalP" id="paragraf-{art}-ledd-9" '
                'data-absoluteaddress="/lov/' + doc_id + '/§{art}/ledd9">' + big + "</article>\n")
        body = _standard_body(text, doc_id, ledd, n_articles)
    elif kind == "listsplit":
        intro, _ = text.sentences(3000)
        lists = "".join(_list_xml(text, 60) for _ in range(2))
        ledd = ('<article class="legalP" id="paragraf-{art}-ledd-9">'
                "<p>" + intro + "</p>" + lists + "</article>\n")
        body = _standard_body(text, doc_id, ledd, n_articles)
    elif kind == "change":
        body = _change_body(text)
    elif kind == "simple":
        body = _simple_body(text)
    elif kind == "empty":
        body = ""
    elif kind == "malformed":
        full = _ENVELOPE.format(title=title, body=_simple_body(text))
        cut = rng.randint(len(full) // 3, 2 * len(full) // 3)
        return dataset, doc_id, full[:cut].encode("utf-8")
    else:
        raise ValueError(f"unknown document kind {kind!r}")
    return dataset, doc_id, _ENVELOPE.format(title=title, body=body).encode("utf-8")


@dataclass
class Doc:
    index: int
    kind: str
    version: int = 0


class Corpus:
    """A generated tree on disk plus the generator's view of it.

    ``files`` maps doc_id to (dataset, xml bytes) for every document
    currently in the tree; the oracle reads it instead of the disk.
    """

    def __init__(self, root: str | Path, seed: int):
        self.root = Path(root)
        self.seed = seed
        tree = kinds()
        sizes = iter(oversize_sizes())
        self._oversize = {i: next(sizes) for i, k in enumerate(tree) if k == "oversize"}
        self._articles = article_counts(seed)
        self.docs: dict[str, Doc] = {}
        self.files: dict[str, tuple[str, bytes]] = {}
        self._next_index = N_DOCS
        if self.root.exists():
            shutil.rmtree(self.root)
        for i, kind in enumerate(tree):
            self._write(Doc(i, kind))

    def _write(self, doc: Doc) -> None:
        dataset, doc_id, xml = generate_document(
            self.seed, doc.index, doc.kind, doc.version, self._oversize.get(doc.index),
            self._articles[doc.index] if doc.index < len(self._articles) else None,
        )
        path = self.root / dataset / f"{doc_id}.xml"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(xml)
        self.docs[doc_id] = doc
        self.files[doc_id] = (dataset, xml)

    def _remove(self, doc_id: str) -> None:
        dataset, _ = self.files.pop(doc_id)
        del self.docs[doc_id]
        (self.root / dataset / f"{doc_id}.xml").unlink()

    def apply_day(self, day: int) -> dict[str, int]:
        """Apply one seeded daily change set and return its counts.

        About ``DAY_MODIFIED`` of the documents get a new version. Of
        those, one is emptied (zero-chunk path), one is made malformed
        (failed path) and every malformed document is fixed (retry path);
        the rest keep their kind. ``DAY_ADDED`` new standard documents
        appear and ``DAY_REMOVED`` documents disappear. Oversize and list-split
        documents are never touched, so a day's chunking work does not
        hinge on whether the change set hit one of them.
        """
        rng = random.Random(f"lovdata-bench-day:{self.seed}:{day}")
        n = len(self.docs)
        ids = sorted(d for d, doc in self.docs.items() if doc.kind not in ("oversize", "listsplit"))
        malformed = [d for d in ids if self.docs[d].kind == "malformed"]
        healthy = [d for d in ids if self.docs[d].kind in ("standard", "change", "simple")]
        n_mod = max(3, round(DAY_MODIFIED * n))
        picked = rng.sample(healthy, n_mod + max(1, round(DAY_REMOVED * n)))
        to_modify, to_remove = picked[:n_mod], picked[n_mod:]
        counts = {"modified": 0, "emptied": 0, "broken": 0, "fixed": 0, "added": 0, "removed": 0}
        for j, doc_id in enumerate(to_modify):
            doc = self.docs[doc_id]
            doc.version += 1
            if j == 0:
                doc.kind = "empty"
                counts["emptied"] += 1
            elif j == 1:
                doc.kind = "malformed"
                counts["broken"] += 1
            self._write(doc)
            counts["modified"] += 1
        for doc_id in malformed:
            doc = self.docs[doc_id]
            doc.version += 1
            doc.kind = "standard"
            self._write(doc)
            counts["fixed"] += 1
            counts["modified"] += 1
        for doc_id in to_remove:
            self._remove(doc_id)
            counts["removed"] += 1
        for _ in range(max(1, round(DAY_ADDED * n))):
            self._write(Doc(self._next_index, "standard"))
            self._next_index += 1
            counts["added"] += 1
        return counts
