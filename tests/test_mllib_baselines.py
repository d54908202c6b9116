"""MLlib degenerate-baseline test (SURVEY §7.7): Affine + A5 == linear
regression, trained distributedly on window features; it must beat the
predict-the-mean naive RMSE (window stats genuinely predict RUL since
late-life windows sit near the series end)."""

from __future__ import annotations

from aidc_2018_timeseries_spark.ml.baselines import (
    rul_feature_frame,
    train_rul_linear_baseline,
)
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_linear_rul_baseline_beats_naive(spark):
    ev = load_table(spark, SF_DIR, "events")
    feats = rul_feature_frame(ev, "user_id", ["ts", "event_id"], "value", seq_len=20, cap=60)
    res = train_rul_linear_baseline(feats)
    assert res.test_rmse > 0.0
    # the cycle feature carries real signal (rul = L - t capped); the
    # fit must clearly beat predict-the-mean or the feature/label join is
    # silently broken
    assert res.test_rmse < 0.8 * res.naive_test_rmse, (
        res.test_rmse,
        res.naive_test_rmse,
    )
    assert abs(res.train_rmse - res.test_rmse) < 0.5 * res.naive_test_rmse


def test_logistic_alarm_baseline_beats_chance(spark):
    from aidc_2018_timeseries_spark.ml.baselines import (
        train_rul_alarm_logistic_baseline,
    )

    ev = load_table(spark, SF_DIR, "events")
    feats = rul_feature_frame(ev, "user_id", ["ts", "event_id"], "value", seq_len=20, cap=60)
    model, auc, pos_rate = train_rul_alarm_logistic_baseline(feats, rul_threshold=30.0)
    assert 0.0 < pos_rate < 1.0  # both classes present or the test is vacuous
    # the cycle feature makes RUL<30 highly separable; 0.7 still leaves
    # headroom for split variance while catching a broken label join
    assert auc > 0.7, (auc, pos_rate)


def test_logistic_baseline_runs_after_observe_quality(spark):
    """observe_quality observes under a plain name: after its action, a
    task closure that captures the session (the logistic model's
    transform) still serializes. A ``pyspark.sql.Observation`` would have
    started Spark 4.1's non-transient ObservationManager and failed the
    transform with NotSerializableException."""
    from aidc_2018_timeseries_spark.ml.baselines import (
        train_rul_alarm_logistic_baseline,
    )
    from aidc_2018_timeseries_spark.operators.observe import observe_quality

    ev = load_table(spark, SF_DIR, "events")
    instrumented, read = observe_quality(ev.select("value"), "value")
    counted = instrumented.groupBy().count()
    n_rows = counted.collect()[0][0]
    assert read(counted)["n_rows"] == n_rows > 0
    feats = rul_feature_frame(ev, "user_id", ["ts", "event_id"], "value", seq_len=20, cap=60)
    _, auc, _ = train_rul_alarm_logistic_baseline(feats, rul_threshold=30.0)
    assert auc > 0.7, auc


def test_training_curve_descends_to_closed_form_minimum(spark):
    """The GD loss series must strictly decrease and approach the exact
    least-squares minimum (computed independently with NumPy from the raw
    (cycle, rul) pairs) — the curve is real optimization, not decoration."""
    import numpy as np

    from aidc_2018_timeseries_spark.ml.training import rul_gd_training_curve

    ev = load_table(spark, SF_DIR, "events")
    rows = sorted(
        (r["step"], r["loss"], r["loss_trail"])
        for r in rul_gd_training_curve(ev, "user_id", ["ts", "event_id"]).collect()
    )
    losses = [l for _, l, _ in rows]
    assert len(losses) == 25
    assert all(b < a for a, b in zip(losses, losses[1:])), "loss must descend"

    # closed-form minimum from the raw pairs
    pdf = (
        ev.select("user_id", "ts", "event_id").sort("user_id", "ts", "event_id").toPandas()
    )
    pdf["rn"] = pdf.groupby("user_id").cumcount() + 1
    pdf["len"] = pdf.groupby("user_id")["rn"].transform("max")
    x = pdf["rn"].to_numpy(dtype=float)
    y = np.minimum(pdf["len"] - pdf["rn"], 130).to_numpy(dtype=float)
    u = x - x.mean()
    b_opt = (u * y).sum() / (u * u).sum()
    min_loss = float(np.mean((y.mean() + b_opt * u - y) ** 2))
    gap0 = losses[0] - min_loss
    assert losses[-1] - min_loss < 0.01 * gap0, (losses[-1], min_loss)

    # loss_trail is the trailing-3 mean of the same series
    for i, (_, _, lt) in enumerate(rows):
        w = losses[max(0, i - 2) : i + 1]
        assert abs(lt - sum(w) / len(w)) < 1e-6
