"""Metric-history anomaly (operators/metric_history.py): the EMA+3σ
rule over the manifest's own metric series. History extraction must
skip carry-forward (stamp) commits, planted spikes must flag, stable series must
not, and the partition scope must localize a single degrading
partition."""

from __future__ import annotations

import json
import os

import pytest

from anomalydetection_spark.operators.metric_history import (
    manifest_metric_history,
    metric_run_anomaly,
)
from anomalydetection_spark.sources.manifest import Manifest


def _commit(m: Manifest, run_id: str, nv_by_pid: dict[int, int],
            n_rows: int = 1000) -> None:
    """One synthetic validated commit: per-partition violation counts."""
    m.commit_validated(
        [
            {
                "partition_id": pid,
                "snapshot_hash": f"h{pid}-{run_id}",
                "n_rows": n_rows,
                "n_violations": nv,
                "verdict": "fail" if nv else "pass",
            }
            for pid, nv in nv_by_pid.items()
        ],
        run_id,
        f"2024-01-01T00:00:0{run_id[-1]}",
    )


def test_history_skips_lease_and_stamp_commits(spark, tmp_path):
    """Only versions with FRESH validated state become series points —
    stats stamps (which carry state forward unchanged) would otherwise
    inject duplicate points that damp the EMA exactly when a jump needs
    catching."""
    m = Manifest(str(tmp_path / "m"))
    _commit(m, "r1", {0: 5, 1: 0})
    m.stamp_stats("dedup", {"n_clusters": 2}, "r1")          # no point
    _commit(m, "r2", {0: 6, 1: 0})
    m.stamp_stats("dedup", {"n_clusters": 3}, "r2")          # no point
    _commit(m, "r3", {0: 7, 1: 1})

    hist = manifest_metric_history(spark, str(tmp_path / "m"))
    versions = sorted(
        r.version for r in hist.select("version").distinct().collect()
    )
    assert len(versions) == 3  # exactly the three fresh commits
    # the stamp versions are absent even though they exist on disk
    assert m.current_version() == 5
    # table metrics present per version
    per_v = (
        hist.groupBy("version").count().collect()
    )
    assert all(r["count"] == 4 for r in per_v)
    got = {
        (r.version, r.metric): r.value for r in hist.collect()
    }
    assert got[(versions[0], "total_violations")] == 5.0
    assert got[(versions[2], "total_violations")] == 8.0
    assert got[(versions[2], "n_failed_partitions")] == 2.0
    assert got[(versions[0], "violation_rate")] == pytest.approx(5 / 2000)


def test_planted_spike_flagged_stable_not(spark, tmp_path):
    """A violation spike after a calm history flags violation_rate and
    total_violations; total_rows (constant → degenerate variance,
    unchanged value) stays quiet."""
    m = Manifest(str(tmp_path / "m"))
    calm = [10, 12, 11, 10, 12, 11]
    for i, nv in enumerate(calm):
        _commit(m, f"r{i}", {0: nv})
    _commit(m, "r9", {0: 500})  # the spike

    out = metric_run_anomaly(spark, str(tmp_path / "m"))
    flagged = {
        (r.metric, r.version) for r in out.filter("is_anomaly").collect()
    }
    last_v = max(r.version for r in out.collect())
    assert ("total_violations", last_v) in flagged
    assert ("violation_rate", last_v) in flagged
    assert not any(metric == "total_rows" for metric, _ in flagged)
    # nothing flagged during the calm prefix
    assert not any(v != last_v for _, v in flagged)


def test_partition_scope_localizes(spark, tmp_path):
    """One partition degrades while the other stays calm — partition
    scope flags exactly the degrading one."""
    m = Manifest(str(tmp_path / "m"))
    series = {0: [10, 12, 11, 10, 12, 11, 400],
              1: [20, 22, 21, 20, 22, 21, 21]}
    for i in range(7):
        _commit(m, f"r{i}", {0: series[0][i], 1: series[1][i]})

    out = metric_run_anomaly(
        spark, str(tmp_path / "m"), scope="partition"
    )
    flagged = [
        (r.partition_id, r.metric)
        for r in out.filter("is_anomaly").collect()
    ]
    assert flagged  # the spike is caught
    assert all(pid == 0 for pid, _ in flagged)
    assert {m_ for _, m_ in flagged} <= {"n_violations", "violation_rate"}


def test_metric_anomaly_cli_round(spark, tmp_path):
    """--metric-anomaly round: parquet written, flagged summary JSON-
    serializable, missing --manifest-dir refused."""
    from anomalydetection_spark.run import metric_anomaly_round, parse_args

    m = Manifest(str(tmp_path / "m"))
    for i, nv in enumerate([10, 12, 11, 10, 12, 11]):
        _commit(m, f"r{i}", {0: nv})
    _commit(m, "r9", {0: 500})

    args = parse_args(
        [
            "--docs", "unused",
            "--out", str(tmp_path / "out"),
            "--manifest-dir", str(tmp_path / "m"),
            "--metric-anomaly",
        ]
    )
    summary = metric_anomaly_round(spark, args)
    json.dumps(summary)
    assert summary["n_flagged"] >= 2
    assert {f["metric"] for f in summary["flagged"]} == {
        "total_violations", "violation_rate"
    }
    assert os.path.isdir(summary["metric_anomaly"])

    bad = parse_args(
        ["--docs", "unused", "--out", str(tmp_path / "o2"),
         "--metric-anomaly"]
    )
    with pytest.raises(SystemExit):
        metric_anomaly_round(spark, bad)
