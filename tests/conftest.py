import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# The 10-doc golden corpus from the reference's own tests
# (/root/reference/src/Infidex.Tests/ReferenceMatchingTests.cs:22-34).
REFERENCE_DOCS: list[tuple[int, str]] = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "A journey of a thousand miles begins with a single step"),
    (3, "To be or not to be, that is the question"),
    (4, "All that glitters is not gold"),
    (5, "The fox was quick and clever in the forest"),
    (6, "Batman and Robin fight crime in Gotham City"),
    (7, "Superman flies faster than a speeding bullet"),
    (8, "Spider-Man swings through New York City"),
    (9, "Wonder Woman protects the innocent"),
    (10, "The Flash runs at incredible speeds"),
]

# the two-delta index: BATCH1 built as main, BATCH2 and BATCH3 appended
# as deltas, then one key tombstoned in each segment
BATCH1 = REFERENCE_DOCS[:5]
BATCH2 = REFERENCE_DOCS[5:]
BATCH3 = [
    (11, "Foxes hunt at the theatre in the city"),
    (12, "Baking bread on a sunny Thursday"),
    (13, "The spa in Spain stays open till two"),
    (14, "A big bad wolf and a fox"),
]
TWO_DELTA_DELETED = (2, 6, 12)


@pytest.fixture(scope="session")
def reference_docs():
    return list(REFERENCE_DOCS)


@pytest.fixture(scope="session")
def kernel_index(reference_docs):
    from infidex_spark.kernel.engine import KernelIndex

    idx = KernelIndex()
    idx.index_documents(reference_docs)
    return idx


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for all Spark-backed tests."""
    from infidex_spark.session import get_spark

    s = get_spark(app_name="infidex-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built(spark, tmp_path_factory):
    """One segment over REFERENCE_DOCS (doc ids 0-9), 4 buckets."""
    from infidex_spark.build.indexer import build_index

    d = str(tmp_path_factory.mktemp("fetch") / "idx")
    docs = [(i, key, text) for i, (key, text) in enumerate(REFERENCE_DOCS)]
    df = spark.createDataFrame(docs, "doc_id long, doc_key long, text string")
    build_index(spark, df, d, n_buckets=4)
    return d


@pytest.fixture(scope="session")
def two_delta_index(spark, tmp_path_factory):
    """Main + two deltas, one tombstoned key in each segment."""
    from infidex_spark.build.indexer import build_index
    from infidex_spark.streaming.incremental import append_delta, delete_docs

    out = str(tmp_path_factory.mktemp("inc2") / "idx")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    for batch_id, batch in ((1, BATCH2), (2, BATCH3)):
        df = spark.createDataFrame(batch, "doc_key long, text string")
        append_delta(spark, df, out, batch_id=batch_id, n_buckets=4)
    delete_docs(out, list(TWO_DELTA_DELETED))
    return out
