"""Session factory: Python workers import the package wherever the
driver starts."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

DRIVER = """
import sys
sys.path.insert(0, {root!r})
from lovdata_pipeline_spark.chunking import chunk_documents_df
from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
from lovdata_pipeline_spark.session import get_spark
from tests import fixtures

spark = get_spark("worker-import")
docs = spark.createDataFrame(
    [("d1", "ds", "p", fixtures.simple_law(), "h1", "added")], DOCUMENTS_SCHEMA
)
print("chunks", chunk_documents_df(docs).count())
spark.stop()
"""


def test_workers_import_package_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(root=str(ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "chunks 1" in proc.stdout


def test_default_driver_memory_is_half_of_ram_capped_at_16g(monkeypatch):
    from lovdata_pipeline_spark import session

    page = 4096

    def host(ram_bytes):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        return session.default_driver_memory()

    assert host(15 * 2**30) == "7680m"
    assert host(32 * 2**30) == "16384m"
    assert host(256 * 2**30) == "16384m"
