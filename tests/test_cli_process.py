"""`lg process` end to end: three passes over an XML tree on disk, each
through ``cli.main``, pinning the printed tallies, the exit code and the
state/store contract of the incremental pass."""

from __future__ import annotations

import json
from pathlib import Path

from lovdata_pipeline_spark.cli import main
from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
from lovdata_pipeline_spark.sources.state_store import StateStore
from tests import fixtures

COLD = {
    "keep": fixtures.simple_law(),
    "mod": fixtures.standard_law(),
    "empt": fixtures.law_with_list(),
    "bad": fixtures.change_law(),
    "gone": fixtures.law_no_title(),
    "poison": fixtures.malformed(),
}


def _write(root: Path, docs: dict[str, str]) -> None:
    for p in root.glob("*/*.xml"):
        if p.stem not in docs:
            p.unlink()
    for doc_id, xml in docs.items():
        path = root / "ds" / f"{doc_id}.xml"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(xml, encoding="utf-8")


def _process(tree, store, state, capsys) -> tuple[int, dict]:
    rc = main(["process", "--corpus", str(tree), "--store", str(store),
               "--state", str(state), "--min-tokens", "10", "--embedding-dims", "8"])
    return rc, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _validate(store, state, capsys) -> tuple[int, dict]:
    rc = main(["validate", "--store", str(store), "--state", str(state)])
    return rc, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_three_passes(spark, tmp_path, capsys):
    tree, store_dir, state_dir = tmp_path / "tree", tmp_path / "store", tmp_path / "state"
    store, state = ChunkStore(spark, store_dir), StateStore(spark, state_dir)

    def rows():
        return {r.doc_id: r for r in state.read().collect()}

    def chunks(doc_id):
        return store.chunks_for_document(doc_id).count()

    # cold: everything is new; the poison document fails
    _write(tree, COLD)
    rc, counts = _process(tree, store_dir, state_dir, capsys)
    assert counts == {"processed": 5, "failed": 1, "removed": 0}
    assert rc == 1
    assert _validate(store_dir, state_dir, capsys) == (
        0, {"consistent": True, "in_state_not_store": [], "in_store_not_state": []}
    )
    cold = rows()
    assert cold["poison"].status == "failed" and cold["poison"].error
    assert all(chunks(d) > 0 for d in ("keep", "mod", "empt", "bad", "gone"))

    # day: one modified, one emptied, one broken, one added, one removed;
    # the poison document, unchanged, is retried and fails again
    day = {**COLD, "mod": fixtures.change_law(), "empt": fixtures.empty_law(),
           "bad": fixtures.malformed(), "new": fixtures.law_with_crossrefs()}
    del day["gone"]
    _write(tree, day)
    rc, counts = _process(tree, store_dir, state_dir, capsys)
    assert counts == {"processed": 3, "failed": 2, "removed": 1}
    assert rc == 1
    after = rows()
    assert set(after) == {"keep", "mod", "empt", "bad", "new", "poison"}
    assert after["keep"].at == cold["keep"].at
    assert after["mod"].hash != cold["mod"].hash and after["mod"].status == "processed"
    assert after["empt"].status == "processed"
    assert after["bad"].status == "failed" and after["poison"].at != cold["poison"].at
    assert chunks("empt") == 0 and chunks("bad") == 0 and chunks("gone") == 0
    assert chunks("new") > 0 and chunks("mod") > 0
    # a processed document without chunks is the one state/store mismatch
    assert _validate(store_dir, state_dir, capsys) == (
        1, {"consistent": False, "in_state_not_store": ["empt"], "in_store_not_state": []}
    )

    # day: the broken document is fixed; the poison document's file is deleted
    day["bad"] = fixtures.change_law()
    del day["poison"]
    _write(tree, day)
    rc, counts = _process(tree, store_dir, state_dir, capsys)
    assert counts == {"processed": 1, "failed": 0, "removed": 1}
    assert rc == 0
    final = rows()
    assert set(final) == {"keep", "mod", "empt", "bad", "new"}
    assert final["bad"].status == "processed" and final["bad"].error is None
    assert chunks("bad") > 0
    assert final["keep"].at == cold["keep"].at
    assert _validate(store_dir, state_dir, capsys)[1]["in_state_not_store"] == ["empt"]
