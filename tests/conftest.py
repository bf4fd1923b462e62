import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from pinterest_data_pipeline218_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def raw_tables(spark):
    from pinterest_data_pipeline218_spark.sources.generator import to_dataframes

    pin, geo, user = to_dataframes(spark, n=300)
    return pin.cache(), geo.cache(), user.cache()


@pytest.fixture(scope="session")
def clean_tables(raw_tables):
    from pinterest_data_pipeline218_spark.functions.cleaning import (
        clean_geo,
        clean_pin,
        clean_user,
    )

    pin, geo, user = raw_tables
    return clean_pin(pin).cache(), clean_geo(geo).cache(), clean_user(user).cache()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_set(df):
    """Order-insensitive canonical row set for comparisons (None-safe)."""
    return sorted(tuple(canon(v) for v in row) for row in df.collect())


def memo_entries(spark, tag):
    """{key: value} of the session memo entries stored under ``tag``."""
    from pinterest_data_pipeline218_spark.data import _SESSION_MEMO

    per = _SESSION_MEMO.get(spark, {})
    return {k: v for k, v in per.items() if k[0] == tag}


def forget_memo(spark, tag):
    """Drop the session memo entries stored under ``tag``."""
    from pinterest_data_pipeline218_spark.data import _SESSION_MEMO

    per = _SESSION_MEMO.get(spark, {})
    for k in [k for k in per if k[0] == tag]:
        del per[k]
