"""Empty/whitespace-document parity (r3 verdict item 7).

The DuckDB oracles model a 0-token document as the single empty gram
``['']``; shingle_rows must emit the same row or empty docs silently
vanish from dedup/contamination on the Spark side. The sf corpora happen
to contain no empty docs, so this fixture builds one that does — empty
string, whitespace-only, and tabs/newlines-only docs on BOTH sides of
the contamination eval/train split — and runs the gram-sensitive registry
queries through the same order-insensitive bit-exact compare the driver
uses.
"""

import os
import shutil

import duckdb
import pytest

from test_oracle_parity import TABLES, result_multiset

from datarepo_spark.queries.registry import REGISTRY

SRC_SF = "/root/testdata/sf0.001"

# gram-pipeline queries whose oracles have the ELSE [''] branch
QUERIES = [
    "pipeline_contamination",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_exact_sha256",
    "pipeline_curate_documents",
    "text_repetition",
    # 0-token docs EXCLUDED by construction on both sides:
    "text_perplexity",
    "pipeline_pack_sequences",
    "classify_nb_language",
    # 0-token docs INCLUDED (hash keep / pure projection):
    "pipeline_mixture_sample",
    "text_normalize",
    "dedup_duplicate_spans",
]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory, spark):
    """sf0.001 with empty/whitespace docs spliced in: ids 45/46 land in
    the eval side (< 50) of the contamination split, 9001-9003 in train."""
    out = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        if t != "documents":
            shutil.copy(
                os.path.join(SRC_SF, f"{t}.parquet"),
                str(out / f"{t}.parquet"),
            )
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC_SF}/documents.parquet')
          WHERE doc_id NOT IN (45, 46)
          UNION ALL
          SELECT * FROM (VALUES
            (45, '', 'en', 'fixture', 0),
            (46, '   ', 'en', 'fixture', 3),
            (9001, '', 'en', 'fixture', 0),
            (9002, CHR(9) || CHR(10) || '  ', 'en', 'fixture', 4),
            (9003, 'the quick brown fox jumps over the lazy dog', 'en',
             'fixture', 43)
          ) AS v(doc_id, text, lang, source, n_chars)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def ddb_empty(fixture_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fixture_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_empty_docs_match_oracle(spark, ddb_empty, fixture_dir, name):
    q = REGISTRY[name]
    sdf = q.spark_fn(spark, fixture_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = ddb_empty.execute(q.oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = result_multiset(spark_cols, spark_rows)
    d = result_multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_empty_docs_pair_with_each_other(spark, fixture_dir):
    """The three 0-token docs share the '' gram set — exact dedup keeps
    min id; simhash/minhash pair them all (jaccard/hamming identical)."""
    from pyspark.sql import functions as F

    import datarepo_spark.functions.dedup as D

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    empties = {45, 46, 9001, 9002}
    pairs = (
        D.simhash_dedup_pairs(docs, max_hamming=3, portable=True)
        .filter(F.col("id_a").isin(*empties))
        .collect()
    )
    got = {(r.id_a, r.id_b) for r in pairs if r.id_b in empties}
    expect = {
        (a, b) for a in empties for b in empties if a < b
    }
    assert got >= expect
