"""Verdict assembly: similarity grouping and the two-level rollup.

Mirrors the reference's output stage semantics:
- A11 greedy similarity grouping (model_manager.py:252-267): order-
  dependent and non-associative, so exact parity holds only *within* a
  deterministically ordered bounded group — we first group by an exact
  key (check, partition), then run the greedy pass per group in
  ``applyInPandas``; the cross-group semantic delta is documented.
- the two-level verdict (SURVEY.md §3.3): per-partition verdict rows
  rolled up to one table-level row per check.
"""

from __future__ import annotations

import difflib
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import VERDICTS_DDL, VERDICTS_SCHEMA, local_frame


def _greedy_group(pdf: pd.DataFrame, text_col: str, ratio_threshold: float,
                  max_candidates: int) -> pd.DataFrame:
    """Reference-faithful greedy pass (model_manager.py:252-267): for
    each row in deterministic order, join the first existing group whose
    exemplar is similar enough, else open a new group. Keeps the
    max-score exemplar per group and the member count.

    Deterministic order is score DESC then text ASC — so when a group
    exceeds ``max_candidates`` the truncation drops the LOWEST-score
    rows (an earlier text-alphabetical order could silently discard
    the max-score exemplar and mis-rank the whole report). NULL texts
    cannot be compared and are dropped before grouping; NULL scores
    participate as -inf (never chosen as exemplar)."""
    pdf = pdf[pdf[text_col].notna()].copy()
    if len(pdf) == 0:
        return pd.DataFrame(
            columns=["group_key", "exemplar", "best_score", "n_members"]
        )
    pdf["score"] = pdf["score"].fillna(float("-inf"))
    pdf = pdf.sort_values(
        ["score", text_col], ascending=[False, True]
    ).reset_index(drop=True)
    if len(pdf) > max_candidates:
        pdf = pdf.iloc[:max_candidates]
    exemplars: list[tuple[str, float, int]] = []  # text, best_score, count
    assign: list[int] = []
    for text, score in zip(pdf[text_col], pdf["score"]):
        gid = -1
        for i, (etext, _, _) in enumerate(exemplars):
            if difflib.SequenceMatcher(None, text, etext).ratio() >= ratio_threshold:
                gid = i
                break
        if gid == -1:
            exemplars.append((text, score, 1))
            gid = len(exemplars) - 1
        else:
            et, es, ec = exemplars[gid]
            exemplars[gid] = (et if es >= score else text, max(es, score), ec + 1)
        assign.append(gid)
    rows = [
        {
            "group_key": pdf["group_key"].iloc[0],
            "exemplar": t,
            "best_score": s,
            "n_members": c,
        }
        for (t, s, c) in exemplars
    ]
    return pd.DataFrame(rows)


def similarity_groups(
    violations: DataFrame,
    text_col: str,
    group_cols: Iterable[str],
    ratio_threshold: float = 0.85,
    max_candidates: int = 1000,
) -> DataFrame:
    """A11: exact-key grouping first (captures most duplicates, fully
    distributed), then the greedy similarity pass within each bounded
    group via applyInPandas. ``score`` column required."""
    gk = F.concat_ws("§", *[F.col(c).cast("string") for c in group_cols])
    prepared = violations.withColumn("group_key", gk).select(
        "group_key", F.col(text_col).alias("text"), F.col("score").cast("double")
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _greedy_group(pdf, "text", ratio_threshold, max_candidates)

    return prepared.groupBy("group_key").applyInPandas(
        run,
        schema="group_key string, exemplar string, best_score double, n_members long",
    )


def rollup_rows(partition_rows: Iterable[tuple]) -> list[tuple]:
    """Two-level verdict (SURVEY.md §3.3) over per-partition verdict
    tuples (VERDICTS_DDL column order): one table-level row per check
    (partition_id = None), in first-seen check order. Sums skip NULLs
    and a rate over a NULL or zero total is NULL; the check fails when
    any partition failed."""
    acc: dict[str, list] = {}
    for check, _pid, n_rows, n_viol, _rate, score, verdict in partition_rows:
        a = acc.setdefault(check, [None, None, None, False])
        if n_rows is not None:
            a[0] = (a[0] or 0) + n_rows
        if n_viol is not None:
            a[1] = (a[1] or 0) + n_viol
        if score is not None and (a[2] is None or score > a[2]):
            a[2] = score
        a[3] = a[3] or verdict == "fail"
    return [
        (
            check,
            None,
            n_rows,
            n_viol,
            n_viol / n_rows if n_viol is not None and n_rows else None,
            score,
            "fail" if failed else "pass",
        )
        for check, (n_rows, n_viol, score, failed) in acc.items()
    ]


def global_verdict(partition_verdicts: DataFrame) -> DataFrame:
    """Two-level verdict (SURVEY.md §3.3): roll per-partition verdicts
    up to one table-level row per check (partition_id = null) —
    collect → ``rollup_rows`` → local DataFrame."""
    rows = partition_verdicts.select(*VERDICTS_SCHEMA.names).collect()
    return local_frame(
        partition_verdicts.sparkSession, rollup_rows(rows), VERDICTS_DDL
    )
