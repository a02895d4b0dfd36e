"""Property-based tests (hypothesis) for the pure sketch/miner kernels
— invariants that must hold for ARBITRARY inputs, not just fixtures."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from anomalydetection_spark.functions import tdigest as td
from anomalydetection_spark.operators.templates import DrainMiner

finite_floats = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=40, deadline=None)
@given(st.lists(finite_floats, min_size=1, max_size=5000))
def test_tdigest_weight_conservation_and_bounds(values):
    v = np.asarray(values, dtype=np.float64)
    m, w = td.from_values(v)
    assert abs(w.sum() - len(v)) < 1e-6
    assert len(m) <= len(v)
    assert m.min() >= v.min() - 1e-9 and m.max() <= v.max() + 1e-9
    # quantiles stay within the data range and are monotone in q
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    est = td.quantile(m, w, qs)
    assert est == sorted(est)
    assert v.min() - 1e-9 <= est[0] and est[-1] <= v.max() + 1e-9


@settings(max_examples=25, deadline=None)
@given(
    st.lists(finite_floats, min_size=2, max_size=2000),
    st.integers(min_value=2, max_value=7),
)
def test_tdigest_merge_weight_and_range(values, chunks):
    v = np.asarray(values, dtype=np.float64)
    parts = np.array_split(v, chunks)
    m, w = td.merge([td.from_values(c) for c in parts])
    assert abs(w.sum() - len(v)) < 1e-6
    med_merged = td.quantile(m, w, [0.5])[0]
    assert v.min() - 1e-9 <= med_merged <= v.max() + 1e-9


token = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
    min_size=1,
    max_size=8,
)
line = st.lists(token, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(line, min_size=1, max_size=300))
def test_drain_sizes_sum_and_bounded(lines):
    m = DrainMiner(max_clusters=64)
    for ln in lines:
        m.add(ln)
    assert sum(m.sizes.values()) == len(lines)
    assert len(m.templates) <= 64
    # every template has the token count of the lines it absorbed
    for cid, tpl in m.templates.items():
        assert len(tpl) >= 1


@settings(max_examples=25, deadline=None)
@given(st.lists(line, min_size=1, max_size=150))
def test_drain_templates_generalize_monotonically(lines):
    """Re-adding the same corpus doubles total size and only ever
    GENERALIZES templates: a position can change to <*> but a wildcard
    never re-specializes, and non-wildcard positions never change
    token. (Strict fixpoint is not guaranteed — a re-added line may
    match a sibling cluster whose template then wildcards further.)"""
    from anomalydetection_spark.operators.templates import WILDCARD

    m = DrainMiner()
    for ln in lines:
        m.add(ln)
    before = {cid: list(t) for cid, t in m.templates.items()}
    for ln in lines:
        m.add(ln)
    assert sum(m.sizes.values()) == 2 * len(lines)
    for cid, old in before.items():
        new = m.templates[cid]
        assert len(new) == len(old)
        for a, b in zip(old, new):
            assert b == a or b == WILDCARD


_REFS = [None, "", "m1", "m2", "m3"]
_span = st.one_of(
    st.none(),
    st.fixed_dictionaries({
        "kind": st.sampled_from([None, "text", "image"]),
        "text": st.just("t"),
        "media_ref": st.sampled_from(_REFS),
        "offset": st.sampled_from([None, 0, 1, 2]),
    }),
)
_row = st.tuples(
    st.sampled_from(["a", "b", "c", "d"]),          # doc_id
    st.sampled_from([None, 0, 1]),                  # k2: a nullable key part
    st.one_of(st.none(), st.lists(_span, max_size=4)),
    st.integers(min_value=0, max_value=2),          # partition_id
)


@st.composite
def _tables(draw):
    rows = draw(st.lists(_row, min_size=1, max_size=10))
    # exact-duplicate rows, besides the same-id rows the draw makes
    rows += draw(st.lists(st.sampled_from(rows), max_size=3))
    catalog = draw(st.lists(st.sampled_from(_REFS), max_size=4))
    pending = draw(st.sets(st.integers(min_value=0, max_value=2), min_size=1))
    return rows, catalog, sorted(pending)


def _reference_grid(rows, catalog, pending):
    """Per-row Python oracle: partition → check → violating rows, and
    the (doc_id, partition_id, detail) multiset of referential rows.
    Uniqueness is over every row on (doc_id, k2), where a null part
    never matches; the other checks cover the pending rows only."""
    from collections import Counter

    keys = Counter((d, k) for d, k, _, _ in rows if k is not None)
    cat = {c for c in catalog if c is not None}
    grid = {p: Counter() for p in pending}
    ref_rows = Counter()
    for doc_id, k2, spans, pid in rows:
        if pid not in grid:
            continue
        g = grid[pid]
        g["uniqueness"] += k2 is not None and keys[(doc_id, k2)] > 1
        live = [sp for sp in spans or [] if sp is not None]
        orphans = sorted({
            sp["media_ref"] for sp in live
            if sp["media_ref"] is not None and sp["media_ref"] not in cat
        })
        if orphans:
            g["referential"] += 1
            ref_rows[(doc_id, pid, "orphan_refs=" + ",".join(orphans))] += 1
        offs = [None if sp is None else sp["offset"] for sp in spans or []]
        g["null_spans"] += spans is None
        g["empty_spans"] += spans == []
        g["offset_monotonicity"] += any(
            a is not None and b is not None and not b > a
            for a, b in zip(offs, offs[1:])
        )
        g["null_span_kind"] += any(
            sp is None or sp["kind"] is None for sp in spans or []
        )
        g["span_coherence"] += any(
            sp["kind"] is not None
            and (sp["kind"] == "text") == (sp["media_ref"] is not None)
            for sp in live
        )
    return grid, ref_rows


def _sp(kind, ref, offset=0):
    return {"kind": kind, "text": "t", "media_ref": ref, "offset": offset}


@settings(max_examples=8, deadline=None, derandomize=True)
@given(_tables())
# every case at once: a repeated orphan ref and a null span in one row;
# a same-key row with differing refs in a partition left unvalidated;
# a "" ref and an exact-duplicate row under a null key part; an
# incoherent, non-monotone row; null and empty spans
@example(table=(
    [
        ("a", 0, [_sp("image", "m2"), _sp("image", "m2", 1), None], 0),
        ("a", 0, [_sp("image", "m1")], 1),
        ("b", None, [_sp("image", "")], 0),
        ("b", None, [_sp("image", "")], 0),
        ("c", 1, [_sp("text", "m3", 2), _sp("image", None, 1)], 2),
        ("c", 1, None, 2),
        ("d", 0, [], 0),
    ],
    ["m1", None],
    [0, 2],
))
def test_validate_scope_grid_matches_row_reference(spark, table):
    """The live path on drawn tables: ``validate_scope``'s driver grid
    (conformance counts from the narrow pass, uniqueness from the dup
    keys' partition lists, referential from the orphan pairs grouped per
    physical row) equals a per-row Python reference and ``_count_grid``
    over the full violation rows, whose referential details name each
    row's own sorted orphans. The draws mix "" refs, null elements and
    null spans, repeated refs, duplicate doc_ids with differing refs,
    exact-duplicate rows, a composite key with a null part, and a
    resumed scope (only some partitions pending). The pre-flight census
    (``mode="partitions"``, ``fraction=1.0``) runs the same core on the
    whole table, so its sampled counts are the oracle's totals and its
    exact tier the oracle's duplicate rows."""
    from collections import Counter
    from dataclasses import replace

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.operators.referential import ReferentialCheck
    from anomalydetection_spark.operators.stats import CONF_CHECKS
    from anomalydetection_spark.plans.pipeline import (
        _count_grid,
        preflight_estimate,
        validate_scope,
    )

    rows, catalog, pending = table
    docs = spark.createDataFrame(
        rows,
        "doc_id string, k2 int, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>, partition_id int",
    )
    cat = spark.createDataFrame([(c,) for c in catalog], "media_ref string")
    cfg = replace(DEFAULT_CONFIG, unique_key=["doc_id", "k2"])
    present = {r[3] for r in rows}

    # the pre-flight census (every partition sampled) runs the same core:
    # each sampled count is the oracle's total over the whole table, and
    # the exact tier counts the oracle's duplicate rows
    census = {
        r.check: r
        for r in preflight_estimate(
            spark, docs, catalog=cat, fraction=1.0, mode="partitions",
            cfg=cfg,
        ).collect()
    }
    totals = sum(
        _reference_grid(rows, catalog, sorted(present))[0].values(), Counter()
    )
    assert census.pop("uniqueness").n_violations == totals["uniqueness"]
    assert {c: r.n_violations for c, r in census.items()} == {
        c: totals[c] for c in (*CONF_CHECKS, "referential")
    }
    assert {r.n_evaluated for r in census.values()} == {len(rows)}

    res = validate_scope(
        docs,
        ReferentialCheck(spark, cat),
        cfg,
        pending_of=lambda parts: [
            p.partition_id for p in parts if p.partition_id in pending
        ],
    )
    if not present & set(pending):
        assert res is None
        return
    want, want_ref_rows = _reference_grid(rows, catalog, pending)
    want = {p: want[p] for p in res.pending}
    assert res.pending == sorted(present & set(pending))
    got = {
        p: Counter({k: v for k, v in g.items() if v})
        for p, g in res.grid.items()
    }
    assert got == want
    full = _count_grid(res.violations)
    assert {
        p: Counter({k: v for k, v in full.get(p, {}).items()
                    if k != "partition_id" and v})
        for p in res.pending
    } == want
    assert Counter(
        (r.doc_id, r.partition_id, r.detail)
        for r in res.violations.filter("check = 'referential'").collect()
    ) == want_ref_rows
    res.violations.unpersist()


def test_t_quantile_expansion_accuracy():
    """The pre-flight's 1/nu expansion tracks known Student-t quantiles
    within ~2% for nu>=3 and converges to z for large nu; monotone
    decreasing in nu (more clusters -> tighter multiplier); below nu=3
    it gives no bound."""
    from anomalydetection_spark.plans.pipeline import _t_quantile

    # scipy-free pins: known two-sided t quantiles
    known = {
        (2.5758, 3): 5.841,    # 99% two-sided, nu=3
        (2.5758, 9): 3.250,    # nu=9
        (1.96, 10): 2.228,     # 95% two-sided, nu=10
        (1.96, 30): 2.042,
    }
    for (z, nu), t_true in known.items():
        got = _t_quantile(z, nu)
        tol = 0.04 if nu == 3 else 0.005
        assert abs(got - t_true) / t_true < tol, (z, nu, got, t_true)
    seq = [_t_quantile(2.5758, nu) for nu in (3, 5, 10, 50, 1000)]
    assert seq == sorted(seq, reverse=True)
    assert abs(seq[-1] - 2.5758) < 0.01
    assert _t_quantile(2.5758, 2) == float("inf")


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1,
             max_size=3000),
    st.integers(min_value=2, max_value=16),
)
def test_misra_gries_retention_guarantee(values, k):
    """Any value with true count > n/(k+1) MUST hold a counter, and
    estimates never exceed truth by construction (underestimate-only)."""
    from collections import Counter

    from anomalydetection_spark.functions.heavy import mg_summarize

    s = mg_summarize(values, k)
    assert len(s) <= k
    truth = Counter(values)
    floor = len(values) / (k + 1)
    for v, c in truth.items():
        if c > floor:
            assert v in s, (v, c, floor)
    for v, est in s.items():
        assert est <= truth[v]
        assert est >= truth[v] - floor - 1e-9


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.lists(st.integers(min_value=0, max_value=20),
                      min_size=1, max_size=500),
             min_size=2, max_size=5),
    st.integers(min_value=3, max_value=12),
)
def test_misra_gries_merge_keeps_guarantee(parts, k):
    """Merged partition summaries retain every global heavy hitter."""
    from collections import Counter

    from anomalydetection_spark.functions.heavy import (
        mg_merge,
        mg_summarize,
    )

    merged = mg_merge([mg_summarize(p, k) for p in parts], k)
    assert len(merged) <= k
    allv = [v for p in parts for v in p]
    truth = Counter(allv)
    floor = 2 * len(allv) / (k + 1)  # summarize + merge error budgets
    for v, c in truth.items():
        if c > floor:
            assert v in merged, (v, c, floor)
