"""q_heaps_law on a corpus whose bigram count never grows.

With 20 documents where only doc_id 0 has two or more tokens, every
checkpoint's cutoff already includes doc 0 and no other document adds a
bigram, so ``grams_cum`` is the same at all 10 checkpoints and the OLS
denominator is 0. The DuckDB oracle's ``x / 0.0`` is NULL; the Spark
side must give NULL too instead of raising DIVIDE_BY_ZERO.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from catenae_kafka_spark.catalog import TABLES, table_path
from catenae_kafka_spark.registry import all_specs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_tool():
    spec = importlib.util.spec_from_file_location(
        "tools_check", os.path.join(REPO, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["tools_check"] = mod
    spec.loader.exec_module(mod)
    return mod


def _flat_corpus(d: str, base: str) -> None:
    """documents.parquet as described above; every other table links to base."""
    texts = ["alpha beta gamma delta"] + [f"w{i}" for i in range(1, 20)]
    docs = pa.table(
        {
            "doc_id": pa.array(range(20), pa.int64()),
            "text": texts,
            "lang": ["en"] * 20,
            "source": ["web"] * 20,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, table_path(d, "documents"))
    for name in TABLES:
        if name != "documents":
            os.symlink(table_path(base, name), table_path(d, name))


def test_constant_grams_gives_null_beta_like_oracle(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    _flat_corpus(d, sf_dir)
    check = _check_tool()
    con = check.duck_connection(d)
    try:
        status, line, _ = check._run_one(
            spark, d, "q_heaps_law", all_specs()["q_heaps_law"], con
        )
    finally:
        con.close()
    assert status == "ok", line
    got = all_specs()["q_heaps_law"].fn(spark, d).toPandas()
    assert len(got) == 10
    assert got["grams_cum"].nunique() == 1 and got["heaps_beta"].isna().all()
