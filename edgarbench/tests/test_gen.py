"""The input generator: byte-identical per seed, and every generated
file reads back through the production readers with the generator's
known row, document and transaction counts."""

import hashlib
import os

import pytest

from edgarbench import gen

LOOKUP = dict(gen.INPUT_SIZE, quarters=3, rows_per_quarter=300, daily_files=3, old_daily_files=2,
              rows_per_day=40, filings=12, filing_words=200, form4=10, companies=200, tickers=50, specs=24)
CATALOG = dict(gen.CATALOG_SIZE, orders=300, lineitem=900, events=300, documents=60, embeddings=60)


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _make_all(seed, root):
    return (
        gen.lookup_inputs(seed, os.path.join(root, "lookup"), LOOKUP),
        gen.catalog_tables(seed, os.path.join(root, "catalog"), CATALOG),
    )


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ma = _make_all(5, a)
    mb = _make_all(5, b)
    _make_all(6, c)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)
    assert ma[0]["specs"] == mb[0]["specs"]


def test_stated_shares_show_in_the_inputs(tmp_path):
    lk, _ = _make_all(3, tmp_path)
    assert sum(lk["malformed_lines"].values()) > 0
    assert 0 < lk["uuencoded_filings"] < lk["filings"]
    assert [s["kind"] for s in lk["specs"][:12]] == list(gen.SPEC_PATTERN)
    assert set(gen.SPEC_PATTERN) == {"form_range", "range", "topk", "cik", "ticker", "grouped"}


@pytest.fixture(scope="module")
def spark():
    from sec_edgar_spark import session

    s = session.builder(master="local[2]").config("spark.ui.enabled", "false").getOrCreate()
    yield s
    s.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    return _make_all(11, tmp_path_factory.mktemp("gen"))


def test_index_files_read_back_with_known_valid_rows(spark, inputs):
    from sec_edgar_spark.sources.index import read_master_idx

    lk, _ = inputs
    for path, n in lk["valid_rows"].items():
        assert read_master_idx(spark, path).count() == n
    assert read_master_idx(spark, lk["revised_file"]).count() == lk["revised_rows"]
    for path, rows in lk["mirror_rows"].items():
        got = read_master_idx(spark, path).select("cik", "file_name").collect()
        assert sorted((r["cik"], r["file_name"]) for r in got) == sorted((r[0], r[4]) for r in rows)


def test_daily_files_keep_their_dates(spark, inputs):
    from pyspark.sql import functions as F

    from sec_edgar_spark.sources.index import read_master_idx

    lk, _ = inputs
    df = read_master_idx(spark, lk["daily_files"])
    years = {r[0] for r in df.select(F.year("date_filed")).distinct().collect()}
    assert years == {1997, 2024}
    assert df.filter(F.col("date_filed").isNull()).count() == 0


def test_tickers_read_back(spark, inputs):
    from sec_edgar_spark.sources.cik_map import read_cik_map

    lk, _ = inputs
    rows = read_cik_map(spark, lk["tickers_path"]).collect()
    assert {r["ticker"]: r["cik_str"] for r in rows} == lk["tickers"]


def test_filings_and_form4_read_back(spark, inputs):
    from pyspark.sql import functions as F

    from sec_edgar_spark.parsing import form4, meta

    ing, _ = inputs
    docs = meta.documents_table(meta.parse_filings(meta.read_filings(spark, ing["filings_glob"])))
    assert docs.count() == ing["documents"]
    assert docs.filter("is_uuencoded").count() == ing["uuencoded_filings"]
    raw = meta.read_filings(spark, ing["form4_glob"])
    xml = raw.select(F.lit("a").alias("accession_number"), F.col("content").alias("xml"))
    assert form4.parse_form4(xml).count() == ing["form4_transactions"]


def test_catalog_tables_read_back(spark, inputs):
    from sec_edgar_spark import catalog

    _, cat = inputs
    for name, n in cat["rows"].items():
        assert catalog.table(spark, cat["sf_dir"], name).count() == n
