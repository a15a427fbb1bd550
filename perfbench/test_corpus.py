"""Tests of the seeded corpus generator.

    python -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import sys
import xml.etree.ElementTree as ET
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

from corpus import OVERSIZE_TOKENS, Corpus, oversize_sizes  # noqa: E402
from lovdata_pipeline_spark.chunking import chunk_document  # noqa: E402
from lovdata_pipeline_spark.config import ChunkParams  # noqa: E402


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*.xml"))}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory) -> Corpus:
    """The benchmark's tree after its first day: the day's change set
    adds the empty and the malformed document."""
    c = Corpus(tmp_path_factory.mktemp("c") / "tree", 7)
    c.apply_day(0)
    return c


@pytest.fixture(scope="module")
def chunked(corpus) -> dict[str, list[dict] | None]:
    out = {}
    for doc_id, (dataset, xml) in corpus.files.items():
        try:
            out[doc_id] = chunk_document(xml.decode("utf-8"), doc_id, dataset, "h")
        except ValueError:
            out[doc_id] = None
    return out


def test_same_seed_gives_identical_bytes(tmp_path, corpus):
    again = Corpus(tmp_path / "again", 7)
    again.apply_day(0)
    assert _tree_bytes(again.root) == _tree_bytes(corpus.root)
    other = Corpus(tmp_path / "other", 8)
    other.apply_day(0)
    assert _tree_bytes(other.root) != _tree_bytes(corpus.root)


def test_same_seed_gives_identical_change_sets(tmp_path):
    a, b = Corpus(tmp_path / "a", 3), Corpus(tmp_path / "b", 3)
    for day in range(3):
        assert a.apply_day(day) == b.apply_day(day)
        assert _tree_bytes(a.root) == _tree_bytes(b.root)


def test_every_fixture_shape_is_present(corpus):
    kinds = {doc.kind for doc in corpus.docs.values()}
    assert kinds == {"standard", "change", "simple", "oversize", "listsplit", "empty", "malformed"}
    xml = b"".join(x for _, x in corpus.files.values()).decode("utf-8")
    for marker in (
        'class="section"', 'class="legalArticle"', 'class="legalP"', 'class="legalArticleValue"',
        'class="legalArticleTitle"', "<ol>", "<li data-name=", 'class="leddfortsettelse"',
        "<a href=", "data-absoluteaddress=",
    ):
        assert marker in xml, marker
    change = next(x for d, (_, x) in corpus.files.items() if corpus.docs[d].kind == "change")
    root = ET.fromstring(change)
    assert root.find('.//article[@class="legalArticle"]') is None
    assert root.find('.//section[@class="section"]/article[@class="legalP"]') is not None
    simple = next(x for d, (_, x) in corpus.files.items() if corpus.docs[d].kind == "simple")
    assert ET.fromstring(simple).find('.//main[@class="documentBody"]/article[@class="legalP"]') is not None


def test_oversize_sizes_span_the_stated_range():
    sizes = oversize_sizes()
    assert sizes[0] == OVERSIZE_TOKENS[0] and sizes[-1] == OVERSIZE_TOKENS[1]


def test_largest_oversize_ledd_blows_up_as_real_text_does(corpus, chunked):
    # a ledd of about 13.5k tokens of documents.parquet text gives 1479
    # chunks; the 14k-token generated ledd must blow up as much
    counts = sorted(len(rows) for d, rows in chunked.items() if corpus.docs[d].kind == "oversize")
    assert counts[-1] > 1400


def test_chunking_shapes(corpus, chunked):
    good = {d: rows for d, rows in chunked.items() if rows is not None}
    assert sum(len(r) for r in good.values()) / len(good) > 1.0
    assert any(row["merged"] for rows in good.values() for row in rows)
    # a split: an over-max ledd becomes several chunks of one paragraph
    max_tokens = ChunkParams().max_tokens
    for kind in ("oversize", "listsplit"):
        doc = next(d for d in good if corpus.docs[d].kind == kind)
        paragraphs = [row["paragraph_ref"] for row in good[doc]]
        big = max(set(paragraphs), key=paragraphs.count)
        rows = [row for row in good[doc] if row["paragraph_ref"] == big]
        assert len(rows) >= 3 and sum(r["token_count"] for r in rows) > max_tokens, kind
    assert any(rows is None for rows in chunked.values())
    assert any(rows == [] for rows in chunked.values())
    assert all(
        (rows is None) == (corpus.docs[d].kind == "malformed") for d, rows in chunked.items()
    )


def test_days_exercise_empty_poison_and_retry(tmp_path):
    c = Corpus(tmp_path / "t", 5)
    assert not {"empty", "malformed"} & {doc.kind for doc in c.docs.values()}
    counts = c.apply_day(0)
    assert counts["emptied"] == 1 and counts["broken"] == 1 and counts["fixed"] == 0
    assert counts["added"] >= 1 and counts["removed"] >= 1
    broken = next(d for d, doc in c.docs.items() if doc.kind == "malformed")
    assert c.apply_day(1)["fixed"] == 1 and c.docs[broken].kind == "standard"
    assert all(c.docs[d].kind not in ("oversize", "listsplit") or c.docs[d].version == 0
               for d in c.docs)
