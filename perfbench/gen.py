"""Seeded benchmark inputs, written under the benchmark's work root.

`write_corpus` makes the KG-construction input through the program's own
generator `corpus.write_corpus_spark`, a pure function of (seed, file
count): the same seed gives the same corpus. The directory name carries
the seed, the file count and `corpus.CORPUS_VERSION`, so corpora of
different seeds or generator versions never mix.

The graph leaves read no generated data: they read `TABLES_DIR`, a copy
of the region/nation/customer/lineitem tables of the repo's sf0.01
testdata set (TESTDATA.md), the set the DuckDB oracles are checked on.
"""

from __future__ import annotations

import os
import shutil

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")


def corpus_dir(root: str, seed: int, n_files: int) -> str:
    from datacapsule_spark.corpus import CORPUS_VERSION

    return os.path.join(root, f"corpus_s{seed}_n{n_files}_v{CORPUS_VERSION}")


def write_corpus(spark, root: str, seed: int, n_files: int, n_partitions: int) -> str:
    """The synthetic source-code corpus (repos table) for `seed`, as a
    parquet directory of `n_partitions` files."""
    from datacapsule_spark.corpus import write_corpus_spark

    out = corpus_dir(root, seed, n_files)
    shutil.rmtree(out, ignore_errors=True)
    return write_corpus_spark(spark, out, n_files, seed=seed, n_partitions=n_partitions)
