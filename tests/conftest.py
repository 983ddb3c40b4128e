from __future__ import annotations

import pytest

from polars_genson_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pgs-tests", master="local[4]", shuffle_partitions=4)
    yield s


def make_json_df(spark, docs: list[str | None], column: str = "json_data"):
    return spark.createDataFrame([(d,) for d in docs], f"{column} string")


def replicated_json_df(spark, n_distinct: int, copies: int):
    """(row_id, payload) rows cycling through ``n_distinct`` JSON docs."""
    import json

    docs = [
        json.dumps({"id": i, "name": f"doc-{i}", "tags": [i, i + 1]})
        for i in range(n_distinct)
    ]
    rows = [(i, docs[i % n_distinct]) for i in range(n_distinct * copies)]
    return spark.createDataFrame(rows, "row_id long, payload string")
