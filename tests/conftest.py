import pytest
from pyspark.sql import functions as F

from bleve_spark import IndexBuilder, SearchIndex, code_corpus_mapping
from bleve_spark.corpus import generate_corpus
from bleve_spark.session import get_spark

N_SMOKE = 300


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="bleve_spark_tests")
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    return generate_corpus(N_SMOKE)


@pytest.fixture(scope="session")
def built_index(spark, corpus_pdf, tmp_path_factory):
    # a per-session directory: concurrent pytest sessions never share it
    path = str(tmp_path_factory.mktemp("index"))
    corpus = spark.createDataFrame(corpus_pdf.drop(columns=["content_sha256"]))
    mapping = code_corpus_mapping()
    builder = IndexBuilder(spark, mapping, path)
    builder.build(corpus, id_expr=F.concat_ws("|", "repo", "path", "commit"))
    return SearchIndex(spark, path, mapping)
