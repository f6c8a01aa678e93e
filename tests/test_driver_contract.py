"""Local replica of the driver's correctness harness: every queries() entry
with an oracle must match DuckDB on the same parquet tables (row count,
schema-by-name, values), at sf0.001 for speed (the driver runs sf0.01)."""

import math

import pandas as pd
import pytest

from scripts.correctness_local import _duck, _normalize

SF_DIR = "/root/testdata/sf0.001"


def _query_names():
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    return sorted(n for n in e.queries() if n in oracles)


@pytest.mark.parametrize("name", _query_names())
def test_query_vs_oracle(spark, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_DIR).toPandas()
    odf = _duck(e.oracle_sql()[name], SF_DIR)
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    a, b = _normalize(sdf), _normalize(odf)
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    pd.testing.assert_frame_equal(
        a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9
    )


def test_rows_only_queries_run(spark):
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    for name, fn in e.queries().items():
        if name in oracles:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert {"doc_id", "seq", "kind", "text", "media_ref", "offset"} <= set(df.columns)
    # every media span recognized exactly: text equals the corpus text
    rows = df.filter("media_ref is not null").select("doc_id", "text").collect()
    src = {
        f"doc-{r.doc_id:06d}": r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("doc_id < 64")
        .collect()
    }
    bad = [r.doc_id for r in rows if src[r.doc_id] != r.text]
    assert not bad, f"OCR mismatch for {bad[:5]}"


def _f(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else x
