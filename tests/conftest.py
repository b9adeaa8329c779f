import os
import pathlib
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# checkout of the reference project: its test/ tree holds the real-page
# corpus (cache/, eval/) and the discovery/encoding fixtures (resources/)
REFERENCE_DIR = pathlib.Path("/root/reference")


@pytest.fixture(scope="session")
def spark():
    from trafilatura_spark.job import make_session
    spark = make_session(app_name="trafilatura-spark-tests", master="local[8]",
                         shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def reference_dir():
    """The reference checkout; a test whose input is its corpus skips,
    with one reason, where the checkout is absent."""
    if not REFERENCE_DIR.is_dir():
        pytest.skip(f"reference corpus {REFERENCE_DIR} absent")
    return REFERENCE_DIR


@pytest.fixture(scope="session")
def reference_pages():
    """``reference_pages(sub)``: sorted ``*.html`` pages of the reference
    corpus ``test/<sub>``, empty where the checkout is absent — for tests
    that add real pages to inputs of their own and must still run
    without them."""
    def pages(sub: str) -> list[pathlib.Path]:
        return sorted((REFERENCE_DIR / "test" / sub).glob("*.html"))
    return pages


@pytest.fixture(scope="session")
def doc_rows():
    """(doc_id, text, lang, source) rows from the driver testdata."""
    import duckdb
    return duckdb.sql(
        f"select doc_id, text, lang, source from "
        f"read_parquet('{SF_DIR}/documents.parquet') order by doc_id"
    ).fetchall()
