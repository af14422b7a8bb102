import pytest

from graph_rag_agent_spark.session import get_spark
from graph_rag_agent_spark.sources.corpus import generate_corpus_pdf


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="graft-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    return generate_corpus_pdf(50, seed=42)


@pytest.fixture(scope="session")
def tiny_corpus(spark, tiny_corpus_pdf):
    return spark.createDataFrame(
        tiny_corpus_pdf,
        schema="repo string, path string, commit string, lang string, content string",
    )
