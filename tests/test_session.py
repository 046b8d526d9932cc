"""Session settings that hold across actions: generated code is
compiled once per JVM and reused, not recompiled per run."""

import pytest

from miekki.config import DedupConfig
from miekki.pipeline import dedup_labels
from miekki.session import codegen_compiles

pytestmark = pytest.mark.fast


def test_repeat_dedup_labels_compiles_nothing(spark, corpus_df):
    """Three dedup_labels runs over the fixture corpus: the first may
    compile, the second and third must find every class in the codegen
    cache. With the default cache (100 classes) the pipeline's working
    set is evicted between runs; with the stage id in the class name
    AQE's renumbering makes identical code a new class."""
    compiles = []
    for _ in range(3):
        c0 = codegen_compiles(spark)
        dedup_labels(corpus_df, DedupConfig()).count()
        compiles.append(codegen_compiles(spark) - c0)
    assert compiles[1:] == [0, 0], compiles
