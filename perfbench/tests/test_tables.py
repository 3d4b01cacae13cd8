"""The headline tables generator: same schema as the shared TPC-H-like
test data, row counts fixed by scale, values fixed by seed."""

import pyarrow as pa
import pyarrow.parquet as pq

from tables import TABLES, build_tables

SCHEMAS = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    "customer": {"c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(), "c_acctbal": pa.float64(), "c_mktsegment": pa.string()},
    "supplier": {"s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(), "s_acctbal": pa.float64()},
    "part": {"p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(), "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64()},
    "orders": {"o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(), "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string()},
    "lineitem": {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(), "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(), "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(), "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us")},
    "events": {"event_id": pa.int64(), "ts": pa.timestamp("us"), "user_id": pa.int64(), "event_type": pa.string(), "value": pa.float64(), "props": pa.string()},
    "documents": {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(), "source": pa.string(), "n_chars": pa.int64()},
    "embeddings": {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()), "label": pa.int32()},
}


def test_schema_matches_the_shared_test_data(tmp_path):
    build_tables(str(tmp_path), seed=1, scale=0.001)
    assert set(SCHEMAS) == set(TABLES)
    for name, cols in SCHEMAS.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        assert {f.name: f.type for f in schema} == cols, name


def test_counts_follow_scale_and_values_follow_seed(tmp_path):
    a = build_tables(str(tmp_path / "a"), seed=1, scale=0.001)
    b = build_tables(str(tmp_path / "b"), seed=2, scale=0.001)
    again = build_tables(str(tmp_path / "c"), seed=1, scale=0.001)
    assert {k: v for k, v in a.items() if k != "lineitem"} == {k: v for k, v in b.items() if k != "lineitem"}
    assert a == again
    for name in TABLES:
        same = pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
        assert same, name
    assert not pq.read_table(tmp_path / "a" / "documents.parquet").equals(pq.read_table(tmp_path / "b" / "documents.parquet"))
