"""Driver-assembled result frames (functions/sqlvalues.py): the batch tier's
and the cosine tier's result frames keep every double bit for bit, NaN and
±inf included, and refuse non-int ids and ranks."""

import math

import numpy as np
import pytest

VALUES = [float("nan"), float("inf"), float("-inf"), 0.1, 1 / 3,
          5e-324, 1.7976931348623157e308, 12.000000000000002]


def _same(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or a == b


def test_result_frame_keeps_non_finite_scores(spark):
    from nextsearch_api_spark.functions.sqlvalues import values_frame
    from nextsearch_api_spark.operators.query import _RESULT_SCHEMA

    rows = [(7, i + 1, 100 + i, v, 3) for i, v in enumerate(VALUES)]
    got = values_frame(spark, rows, _RESULT_SCHEMA).collect()
    assert [(r["qid"], r["rank"], r["doc_id"], r["found"]) for r in got] \
        == [(q, r, d, f) for q, r, d, _, f in rows]
    assert all(_same(r["score"], v) for r, v in zip(got, VALUES))


def test_rank_frames_keep_non_finite_values(spark):
    from nextsearch_api_spark.functions.sqlvalues import values_frame
    from nextsearch_api_spark.operators.similarity import (
        _BATCH_RANK_SCHEMA, _RANK_SCHEMA,
    )

    rows = [(i + 1, np.int64(10 + i), v) for i, v in enumerate(VALUES)]
    got = values_frame(spark, rows, _RANK_SCHEMA).collect()
    assert [(r["rank"], r["vec_id"]) for r in got] == [(r, int(v))
                                                      for r, v, _ in rows]
    assert all(_same(r["cos_sim"], v) for r, v in zip(got, VALUES))
    got = values_frame(spark, [(2, r, v, s) for r, v, s in rows],
                       _BATCH_RANK_SCHEMA).collect()
    assert all(r["qid"] == 2 for r in got)
    assert all(_same(r["cos_sim"], v) for r, v in zip(got, VALUES))


@pytest.mark.parametrize("bad", [2.0, "2", True, None])
def test_values_frames_reject_non_int_ids(spark, bad):
    from nextsearch_api_spark.functions.sqlvalues import values_frame
    from nextsearch_api_spark.operators.query import _RESULT_SCHEMA
    from nextsearch_api_spark.operators.similarity import _RANK_SCHEMA

    with pytest.raises(TypeError):
        values_frame(spark, [(0, 1, bad, 1.0, 1)], _RESULT_SCHEMA)
    with pytest.raises(TypeError):
        values_frame(spark, [(bad, 3, 0.5)], _RANK_SCHEMA)


def test_large_values_frame_runs_no_job(spark):
    """Any row count hands over as one Arrow LocalRelation: building and
    collecting 5000 rows runs no Spark job."""
    from nextsearch_api_spark.functions.sqlvalues import values_frame
    from nextsearch_api_spark.operators.query import _RESULT_SCHEMA
    from tests.test_wand import spark_jobs

    rows = [(i // 10, i % 10 + 1, 7 * i, VALUES[i % len(VALUES)], i // 3)
            for i in range(5000)]
    got, jobs = spark_jobs(spark, lambda: values_frame(
        spark, rows, _RESULT_SCHEMA).collect())
    assert jobs == 0
    assert [(r["qid"], r["rank"], r["doc_id"], r["found"]) for r in got] \
        == [(q, r, d, f) for q, r, d, _, f in rows]
    assert all(_same(r["score"], row[3]) for r, row in zip(got, rows))
