"""Every stream twin and every batch store on edge sources, against
its DuckDB oracle.

Each ``stream_*`` entry of ``queries()``, and each batch store query
(the ANN, MinHash, sketch and rollup stores, which write per-batch
partials and answer from them), runs on a zero-row and on a one-row
copy of the sf0.001 tables (every table cut to its first n rows). An
edge source must give the oracle's answer or a loud error: the only
accepted errors are the IVF stores (``stream_ann_store``,
``ann_store_topk``, ``ann_store_topk_pq``) on an empty corpus, which
has nothing to train the coarse quantizer on.
"""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from test_entry import TABLES, rows_to_multiset  # noqa: E402

STREAM_QUERIES = sorted(n for n in E.queries() if n.startswith("stream_"))
STORE_QUERIES = sorted(
    n
    for n in E.queries()
    if n.startswith(("ann_store_", "neardup_store_", "rollup_store_", "sketch_store_"))
)
ORACLES = E.oracle_sql()
#: an empty corpus has nothing to train IVF centroids on
EMPTY_CORPUS_RAISES = {"stream_ann_store", "ann_store_topk", "ann_store_topk_pq"}


@pytest.fixture(scope="session")
def edge_dirs(tmp_path_factory, sf_dir):
    """n_rows -> (sf dir whose tables hold their first n rows, DuckDB
    connection over it)."""
    out = {}
    for n in (0, 1):
        d = tmp_path_factory.mktemp(f"edge_rows{n}")
        con = duckdb.connect()
        for t in TABLES:
            src = pq.read_table(f"{sf_dir}/{t}.parquet")
            pq.write_table(src.slice(0, n), f"{d}/{t}.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
            )
        out[n] = (str(d), con)
    return out


def test_every_stream_twin_has_an_oracle():
    assert len(STREAM_QUERIES) == 28
    assert [n for n in STREAM_QUERIES if n not in ORACLES] == []


def test_every_batch_store_has_an_oracle():
    assert len(STORE_QUERIES) == 10
    assert [n for n in STORE_QUERIES if n not in ORACLES] == []


@pytest.mark.parametrize("n_rows", [0, 1], ids=["zero_rows", "one_row"])
@pytest.mark.parametrize("name", STREAM_QUERIES + STORE_QUERIES)
def test_stream_twin_edge_source(spark, edge_dirs, name, n_rows):
    d, con = edge_dirs[n_rows]
    q = E.queries()[name]
    if name in EMPTY_CORPUS_RAISES and n_rows == 0:
        with pytest.raises(ValueError, match="empty corpus"):
            q(spark, d).collect()
        return
    sdf = q(spark, d)
    got_rows = sdf.collect()
    rel = con.sql(ORACLES[name])
    duck_cols = [c[0] for c in rel.description]
    want = rows_to_multiset(duck_cols, rel.fetchall())
    assert sorted(sdf.columns) == sorted(duck_cols)
    assert rows_to_multiset(sdf.columns, [tuple(r) for r in got_rows]) == want
