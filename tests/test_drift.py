"""PSI drift-detection semantics on planted distributions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.drift import psi_drift


def _rows(group, period, values):
    ts = (
        dt.datetime(2024, 1, 1)
        if period == "ref"
        else dt.datetime(2024, 2, 1)
    )
    return [(group, ts + dt.timedelta(seconds=i), float(v)) for i, v in enumerate(values)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, ts timestamp, value double")


def test_identical_distributions_are_stable(spark):
    vals = [float(i % 100) for i in range(1000)]
    df = _df(spark, _rows("a", "ref", vals) + _rows("a", "cmp", vals))
    out = psi_drift(
        df, group_col="g", value_col="value", ts_col="ts", split_ts="2024-01-16"
    ).collect()
    assert len(out) == 1
    assert out[0].psi < 0.01
    assert out[0].drift_band == "stable"
    assert out[0].n_ref == 1000 and out[0].n_cmp == 1000


def test_shifted_distribution_flags_action(spark):
    ref = [float(i % 100) for i in range(1000)]
    cmp_ = [float(200 + i % 50) for i in range(1000)]  # fully out of range
    df = _df(spark, _rows("a", "ref", ref) + _rows("a", "cmp", cmp_))
    out = psi_drift(
        df, group_col="g", value_col="value", ts_col="ts", split_ts="2024-01-16"
    ).collect()
    assert out[0].psi > 0.25
    assert out[0].drift_band == "action"


def test_groups_independent(spark):
    stable_vals = [float(i % 100) for i in range(500)]
    df = _df(
        spark,
        _rows("a", "ref", stable_vals)
        + _rows("a", "cmp", stable_vals)
        + _rows("b", "ref", stable_vals)
        + _rows("b", "cmp", [v + 500 for v in stable_vals]),
    )
    out = {
        r.g: r.drift_band
        for r in psi_drift(
            df, group_col="g", value_col="value", ts_col="ts", split_ts="2024-01-16"
        ).collect()
    }
    assert out["a"] == "stable"
    assert out["b"] == "action"


def test_mild_shift_lands_in_drifting_band(spark):
    ref = [float(i % 100) for i in range(2000)]
    # 25% of mass nudged up two deciles
    cmp_ = [float((i % 100) + (25 if i % 4 == 0 else 0)) for i in range(2000)]
    df = _df(spark, _rows("a", "ref", ref) + _rows("a", "cmp", cmp_))
    out = psi_drift(
        df, group_col="g", value_col="value", ts_col="ts", split_ts="2024-01-16"
    ).collect()
    assert 0.01 < out[0].psi < 0.25, out[0].psi


def test_drift_stream_matches_batch_split(spark, tmp_path):
    """Streamed micro-batch folds reproduce the one-shot psi_drift
    numbers over the same data split."""
    from ccgp_data_wrangling_spark.operators.drift import psi_drift
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream
    from ccgp_data_wrangling_spark.streaming.sketch_stream import DriftStreamState

    rows = [
        ("a", float(i % 50), f"2024-01-{(i % 27) + 1:02d} 00:00:00")
        for i in range(1000)
    ] + [
        # drifted comparison period: values shifted up
        ("a", float(i % 50) + 20, f"2024-03-{(i % 27) + 1:02d} 00:00:00")
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, "g string, v double, ts string").select(
        "g", "v", F.col("ts").cast("timestamp").alias("ts")
    )
    want = {
        r["g"]: (r["n_ref"], r["n_cmp"], r["psi"], r["drift_band"])
        for r in psi_drift(
            df, group_col="g", value_col="v", ts_col="ts",
            split_ts="2024-02-15 00:00:00",
        ).collect()
    }

    ref = df.where(F.col("ts") < "2024-02-15")
    cmp_rows = df.where(F.col("ts") >= "2024-02-15")
    src = tmp_path / "src"
    for half in (0, 1):
        cmp_rows.where((F.col("v").cast("int") % 2) == half).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    state = DriftStreamState(spark, str(tmp_path / "state"))
    state.init_reference(ref, group_col="g", value_col="v")
    stream = (
        spark.readStream.schema(cmp_rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = fold_stream(
        stream,
        lambda b: state.fold(b, group_col="g", value_col="v"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r["g"]: (r["n_ref"], r["n_cmp"], r["psi"], r["drift_band"])
        for r in state.psi().collect()
    }
    assert got == want
    assert want["a"][3] in ("drifting", "action")  # the shift is real
