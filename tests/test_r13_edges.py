"""Round-13 focused tests: edge cases and plan shapes changed by the
optimization round.

- simhash64_sig: NULL text propagates NULL signatures (expression-twin
  parity) and zero-row batches return empty instead of raising.
- hilbert_value: NULL in a clustering column yields NULL d (instead of
  failing the OPTIMIZE job's task).
- Winnow / codec query plans: the map kernel has NO Exchange above it
  (a global sort there re-executes the kernel for range sampling). The
  fan-out contract itself is tested in test_partitioning.py.
"""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F


def test_simhash_sig_null_text_matches_expression(spark):
    from rtcdb_spark.functions.dedup import simhash64_rowwise, simhash64_rowwise_expr

    df = spark.createDataFrame(
        [(1, "hello world hello"), (2, None), (3, ""), (4, "a b c d")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.sim_hi, r.sim_lo)
        for r in simhash64_rowwise(df).collect()
    }
    want = {
        r.doc_id: (r.sim_hi, r.sim_lo)
        for r in simhash64_rowwise_expr(df).collect()
    }
    assert got == want
    assert got[2] == (None, None)


def test_simhash_batch_empty_array():
    from rtcdb_spark.functions.simhash_np import simhash64_batch

    hi, lo = simhash64_batch(pa.array([], type=pa.string()))
    assert len(hi) == 0 and len(lo) == 0


def test_simhash_batch_all_empty_strings():
    # data buffer is None for an all-empty-string arrow array
    from rtcdb_spark.functions.simhash_np import simhash64_batch

    hi, lo = simhash64_batch(pa.array(["", ""], type=pa.string()))
    assert len(hi) == 2 and len(lo) == 2


def test_hilbert_value_null_row(spark):
    """NULL in a clustering column must not fail the OPTIMIZE job.

    The norm expression's `least(top, floor(...))` ABSORBS a NULL input
    (Spark's least ignores NULLs), so both curve twins map a NULL value to
    the top cell — the compaction job completes and the two layouts agree.
    The pandas kernel additionally masks genuine NaN/NULL inputs (defense
    in depth for callers that feed it directly)."""
    from rtcdb_spark.sources.layout import hilbert_value, zorder_value

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, 5.0), (3, 7.0, None), (4, 0.0, 0.0)],
        "id bigint, a double, b double",
    )
    out = df.select(
        "id",
        hilbert_value(df, ["a", "b"]).alias("h"),
        zorder_value(df, ["a", "b"]).alias("z"),
    ).collect()
    by_id = {r.id: r for r in out}
    for i in (1, 2, 3, 4):
        assert by_id[i].h is not None and by_id[i].z is not None
    # NULL maps to the top cell in both twins: the NULL-a row shares its
    # h/z x-coordinate with an explicit top-cell row would — just pin
    # determinism here: same inputs, same keys, every run.
    again = {
        r.id: (r.h, r.z)
        for r in df.select(
            "id",
            hilbert_value(df, ["a", "b"]).alias("h"),
            zorder_value(df, ["a", "b"]).alias("z"),
        ).collect()
    }
    assert again == {r.id: (r.h, r.z) for r in out}


def test_hilbert_kernel_masks_nan_inputs():
    """Direct-kernel defense: NaN/None coordinates yield NULL d instead of
    raising inside to_numpy(int64)."""
    import numpy as np

    from rtcdb_spark.sources.layout import _hilbert_d_arrays

    xs = pd.Series([1.0, None, 3.0], dtype="float64")
    ys = pd.Series([2.0, 2.0, np.nan], dtype="float64")
    out = _hilbert_d_arrays(xs, ys, bits=16)
    assert out[0] is not None and not pd.isna(out[0])
    assert pd.isna(out[1]) and pd.isna(out[2])


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_winnow_plan_no_exchange_above_kernel(spark, sf_smoke):
    """The ordered map-only kernels must not have an Exchange ABOVE the
    map: a global sort there re-executes the kernel for range-boundary
    sampling (verified with an accumulator in round 13)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name, node in [
        ("text_winnow_fingerprints", "MapInArrow"),
        ("multimodal_jpeg_decode", "MapInPandas"),
        ("multimodal_mp3_bitstream_decode", "MapInPandas"),
    ]:
        plan = _formatted_plan(qs[name](spark, sf_smoke))
        body = plan.split("\n\n", 1)[0]  # the tree section
        kernel_line = next(
            i for i, ln in enumerate(body.splitlines()) if node in ln
        )
        above = "\n".join(body.splitlines()[:kernel_line])
        assert "Exchange" not in above, (name, plan)
