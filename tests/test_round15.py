"""Round-15 instruments: the bench sentinel-drift flag (VERDICT r14
item 9) and the w<=32 packed-band mask (ADVICE r14; the banded-vs-
allpairs half lives in test_dedup_banding.py)."""

from __future__ import annotations


def test_sentinel_drift_flag_thresholds():
    from bench import drift_flag

    # calm sweep: 0.30 -> 0.29 is 3% drift, not contamination
    ratio, bad = drift_flag(0.30, 0.29)
    assert ratio == 0.967 and bad is False
    # the r14 driver sweep shape: 0.301 -> 0.190 (-37%) must flag
    ratio, bad = drift_flag(0.301, 0.190)
    assert bad is True
    # upward drift flags symmetrically
    _, bad = drift_flag(0.20, 0.26)
    assert bad is True
    # degenerate sentinel never divides by zero
    assert drift_flag(0.0, 0.2) == (None, False)


def test_bench_json_carries_drift_keys():
    """The contract keys must be additions-only: value/queries stay,
    the drift pair rides along."""
    from bench import _bench_payload

    samples = {"q_a": [3.0, 1.0, 1.2, 1.4], "q_b": [2.0, 0.5, 0.4, 0.6]}
    full, compact = _bench_payload(
        samples, [0.4, 0.3, 0.3, 0.3], [0.5, 0.2, 0.2, 0.2], 3, "/data/sf0.1"
    )
    assert full["queries"] == {"q_a": 1.2, "q_b": 0.5}
    assert full["value"] == compact["value"] == 1.7
    assert full["queries_cold"] == {"q_a": 1.2, "q_b": 0.5}
    assert full["sf"] == 0.1 and full["trials"] == 3
    assert full["sentinel"] == full["sentinel_pre"] == 0.3
    # post/pre = 0.2 / 0.3: a drifted sweep flags itself
    assert (full["sentinel_drift"], full["sentinel_contaminated"]) == (0.667, True)
    # the stdout line: every key but the per-line detail, 2-dp queries
    assert list(compact) == [
        k for k in full if k not in ("queries_spread", "queries_cold")
    ]
    assert compact["queries"] == {"q_a": 1.2, "q_b": 0.5}
    assert compact["sentinel_contaminated"] is True


def test_as_local_is_bit_exact_and_local(spark):
    """The IVF-PQ/cascade job-chain fusion rebuilds tiny frames as
    LocalRelations via inline VALUES — doubles (including non-finite),
    longs, strings and double-arrays must round-trip bit-exactly and
    the result must plan as LocalTableScan (a Python-RDD-backed local
    frame would re-introduce 32-task Python broadcast builds)."""
    import math

    from pyspark.sql import functions as F

    from sayn_spark.functions.similarity import _as_local

    src = spark.range(0, 4).select(
        "id",
        F.expr(
            "case id when 0 then double('NaN') when 1 then double('Infinity') "
            "when 2 then double('-Infinity') else 0.1 + id / 7.0 end"
        ).alias("x"),
        F.expr("transform(sequence(0, 7), j -> sin(id * 8 + j))").alias("arr"),
        F.expr("concat('s''\"', id)").alias("s"),
    )
    loc = _as_local(src)
    assert "LocalTableScan" in loc._jdf.queryExecution().executedPlan().toString()
    a = {r["id"]: (r["x"], tuple(r["arr"]), r["s"]) for r in src.collect()}
    b = {r["id"]: (r["x"], tuple(r["arr"]), r["s"]) for r in loc.collect()}
    assert set(a) == set(b)
    for k in a:
        xa, arra, sa = a[k]
        xb, arrb, sb = b[k]
        assert sa == sb and arra == arrb
        assert (math.isnan(xa) and math.isnan(xb)) or xa == xb
    # empty frames degrade to an empty local DataFrame, same schema
    empty = _as_local(src.where("id < 0"))
    assert empty.count() == 0 and empty.schema == src.schema
