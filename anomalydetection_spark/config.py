"""Engine configuration.

Mirrors the reference's drain3.ini tunables (/root/reference/drain3.ini:84-114)
as an explicit dataclass: the ensemble anomaly threshold (:98) maps onto
the table-level drift thresholds and the feature caps (:110, :102) onto
the histogram cardinality caps. The batch pass (``run_validation``) and
every stream micro-batch (``stream_validate``) read the same config; a
config file naming any other key fails loudly (``config_from_dict``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DriftConfig:
    """Distribution-drift thresholds.

    The reference flags an anomaly when ``prediction == -1 AND score <
    threshold`` with threshold 0.00 globally (ensemble_model.py:386,
    drain3.ini:98); here a drift statistic above its threshold fails
    the table-level drift check.
    """

    psi_threshold_global: float = 0.10
    ks_threshold_global: float = 0.10
    # optional extra statistics over the SAME histogram pair (None =
    # off, the default — chi2 scales with sample size, so its
    # threshold is deployment-specific; jsd ∈ [0, ln 2])
    chi2_threshold_global: float | None = None
    jsd_threshold_global: float | None = None
    histogram_bins: int = 64                # bounded like drain3 max_clusters=1024
    histogram_bin_width: int = 8            # chars per length bucket


@dataclass(frozen=True)
class ValidationConfig:
    """Top-level engine config."""

    drift: DriftConfig = field(default_factory=DriftConfig)

    # Constraint-check thresholds: a partition FAILS a check when the
    # violation *rate* exceeds these (exact violation rows are always
    # emitted regardless — F11/K1 semantics, model_manager.py:200-228).
    max_null_rate: float = 0.01
    max_type_error_rate: float = 0.01
    max_dup_rate: float = 0.0               # uniqueness: any dup fails
    max_orphan_rate: float = 0.0            # referential: any orphan fails

    # Scale knobs
    salt_buckets: int = 8                   # salted anti-join catalog fanout
    # Violations-sink exemplar cap: the violations table is the ONLY
    # engine output that scales with table size (a 1% violation rate at
    # 10^12 docs is 10^10 full-width rows). When set, at most this many
    # violation rows per (check, partition) are materialized as
    # exemplars; per-partition verdict COUNTS stay exact (window
    # aggregates carried on the exemplar rows — plans/pipeline.py::
    # _cap_violations). None = emit every violation row (reference
    # parity default; K1 semantics).
    max_violation_exemplars: int | None = None

    # Column (or list of columns) checked for uniqueness
    unique_key: str = "doc_id"


DEFAULT_CONFIG = ValidationConfig()


def _build(cls, d: dict, nested: dict | None = None):
    """Dataclass from a dict with unknown-key rejection (typos in a
    config file must fail loudly, not silently validate with
    defaults)."""
    import dataclasses

    fields = {f.name for f in dataclasses.fields(cls)}
    unknown = set(d) - fields
    if unknown:
        raise ValueError(
            f"unknown {cls.__name__} keys: {sorted(unknown)}"
            f" (valid: {sorted(fields)})"
        )
    kwargs = dict(d)
    for key, sub_cls in (nested or {}).items():
        if key in kwargs and isinstance(kwargs[key], dict):
            kwargs[key] = _build(sub_cls, kwargs[key])
    return cls(**kwargs)


def config_from_dict(d: dict) -> ValidationConfig:
    """ValidationConfig from a plain dict (e.g. a parsed JSON file):
    top-level keys are ValidationConfig fields; ``drift`` may be a
    nested dict. Unknown keys raise."""
    return _build(ValidationConfig, d, nested={"drift": DriftConfig})
