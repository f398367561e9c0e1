from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# The engine's 24g default driver heap is sized for production hosts.
# The suite runs many tests in one long-lived JVM that grows its heap
# lazily toward that limit, and on a host with less free memory the
# kernel kills the JVM mid-suite, failing every later test with a
# refused connection. 6g is plenty for the test corpora; export
# PKE_DRIVER_MEM to override (child processes inherit it).
os.environ.setdefault("PKE_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from pdf_knowledge_extractor_spark.session import get_spark

    s = get_spark("pke-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def small_corpus(spark):
    from pdf_knowledge_extractor_spark.corpus import generate_corpus

    return generate_corpus(spark, 200).persist()
