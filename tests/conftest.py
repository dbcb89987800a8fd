import pytest


@pytest.fixture(scope="session")
def spark():
    from rio_spark.session import get_spark

    s = get_spark(app_name="rio_spark_tests", shuffle_partitions=8)
    yield s


def pytest_report_header(config):
    import warnings

    from rio_spark.testing.corpus import describe_corpus, load_corpus

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return f"conformance corpus: {describe_corpus(load_corpus())}"
