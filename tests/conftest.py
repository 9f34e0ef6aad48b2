"""Shared fixtures: one Spark session, one small corpus, engine + oracle.

Test strategy mirrors the reference's (SURVEY.md §5): small deterministic
corpora with exact expected MSets; the oracle plays the role of the golden
files (tests/api_anydb.cc style), plus metamorphic properties from
soaktest (tests/soaktest/soaktest_queries.cc:180-240).
"""

from __future__ import annotations

import os

import pytest

N_DOCS = 200


@pytest.fixture(scope="session")
def spark():
    from xapian_spark.session import get_spark

    # one task slot per core: more slots than cores only add contention
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    s = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=8, app_name="xapian-spark-tests"
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    from xapian_spark.sources.corpus import corpus_df

    return corpus_df(spark, N_DOCS, n_partitions=4).cache()


@pytest.fixture(scope="session")
def index(spark, corpus):
    from xapian_spark.operators.indexer import build_index

    ix = build_index(spark, corpus, meta_cols=["repo", "path", "lang"])
    ix.postings = ix.postings.persist()
    ix.docs = ix.docs.persist()
    ix.dictionary = ix.dictionary.persist()
    return ix


@pytest.fixture(scope="session")
def matcher(spark, index):
    from xapian_spark.operators.matcher import Matcher

    return Matcher(spark, index)


@pytest.fixture(scope="session")
def oracle():
    from xapian_spark.oracle import OracleMatcher, build_oracle_index
    from xapian_spark.sources.corpus import generate_corpus

    docs = [(i + 1, r[4]) for i, r in enumerate(generate_corpus(N_DOCS))]
    return OracleMatcher(build_oracle_index(docs))


def assert_mset_equal(got_rows, want, tol=1e-9):
    got = [(r["doc_id"], r["weight"]) for r in got_rows]
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}\n{got}\n{want}"
    for g, w in zip(got, want):
        assert g[0] == w[0], f"docid order: {got} vs {want}"
        assert abs(g[1] - w[1]) <= tol, f"weight {g} vs {w}"
