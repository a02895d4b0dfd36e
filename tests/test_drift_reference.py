"""The driver-side drift kernel against outputs recorded from the Spark
window/join formulation it replaced (tests/drift_reference.json): seeded
histogram pairs plus a kind on one side only, buckets on one side only,
an empty current histogram, and string buckets under timestamp keys
(the windowed kind-drift shape). Every statistic must match within
1e-9, through the kernel and through the DataFrame wrappers."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from anomalydetection_spark.operators import drift as D

REFERENCE = os.path.join(os.path.dirname(__file__), "drift_reference.json")
with open(REFERENCE) as f:
    CASES = json.load(f)["cases"]

TOL = 1e-9


def _kernel_rows(rows):
    return [((key,), bucket, count) for key, bucket, count in rows]


def _assert_close(got: list, want: list) -> None:
    """Row lists equal after sorting; floats within TOL."""
    got, want = sorted(got), sorted(want)
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for a, b in zip(g, w):
            if isinstance(b, float):
                assert abs(a - b) <= TOL, (g, w)
            else:
                assert a == b, (g, w)


@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_kernel_matches_spark_reference(case):
    stats = D.histogram_drift(
        _kernel_rows(case["current"]), _kernel_rows(case["baseline"])
    )
    want = case["expected"]
    for metric in ("psi", "ks", "jsd"):
        _assert_close(
            [[k[0], st[metric]] for k, st in stats.items()], want[metric]
        )
    _assert_close(
        [[k[0], st["chi2"], st["dof"]] for k, st in stats.items()],
        want["chi2"],
    )


def _frame(spark, rows, case):
    key = case["keys"][0]
    if case["key_type"] == "timestamp":
        rows = [
            (dt.datetime.fromisoformat(r[0]), r[1], r[2]) for r in rows
        ]
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        f"{key} {case['key_type']}, bucket {case['bucket_type']},"
        " count long",
    )


def _iso(v):
    return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v


@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_wrappers_match_spark_reference(spark, case):
    cur = _frame(spark, case["current"], case)
    base = _frame(spark, case["baseline"], case)
    keys, want = case["keys"], case["expected"]
    for metric, fn in (
        ("psi", D.psi),
        ("ks", D.ks_from_histograms),
        ("jsd", D.jsd_from_histograms),
    ):
        out = fn(cur, base, keys)
        assert out.columns == [*keys, metric]
        _assert_close(
            [[_iso(r[0]), r[1]] for r in out.collect()], want[metric]
        )
    chi2 = D.chi2_from_histograms(cur, base, keys)
    assert chi2.columns == [*keys, "chi2", "dof"]
    _assert_close(
        [[_iso(r[0]), r.chi2, r.dof] for r in chi2.collect()], want["chi2"]
    )
    explain = D.psi_explain(cur, base, keys, k=3)
    assert explain.columns == [
        *keys, "bucket", "p_cur", "p_base", "psi_contrib", "rank",
    ]
    _assert_close(
        [[_iso(r[0]), *r[1:]] for r in explain.collect()], want["explain"]
    )
    # key columns keep the input's type (timestamps stay timestamps)
    assert explain.schema[keys[0]].dataType == cur.schema[keys[0]].dataType
