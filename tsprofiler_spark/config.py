"""Engine configuration.

`Settings` mirrors the reference profiler settings
(/root/reference/models/settings.go:8-42) plus engine-side knobs (fixed
bounds, tier definitions, shuffle sizing) that the reference keeps in CLI
flags (/root/reference/cmd/csv2tsprofile/main.go:19-40).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Settings:
    """Profiler settings (reference: models/settings.go:8-42)."""

    buffer_size: int = 10       # TSInputs per chunk before discretization
    states: int = 4             # discrete states
    history: int = 1            # historic state-change depth
    filter_stddevs: int = 2     # outlier filter (dead code in reference)
    fix_bound: bool = False     # fixed vs dynamic discretization bounds
    fixed_min: float = 0.0
    fixed_max: float = 100.0
    period_size: tuple[int, ...] = ()
    phase_change_likeliness: float = 0.0
    phase_change_history: int = 1
    phase_change_history_fadeout: bool = False
    name: str = "tsprofiler_spark"

    def to_json_dict(self) -> dict:
        """Settings block of the profile JSON (reference field names)."""
        return {
            "buffersize": self.buffer_size,
            "states": self.states,
            "history": self.history,
            "filterstddevs": self.filter_stddevs,
            "fixbound": self.fix_bound,
            "periodsize": list(self.period_size),
            "phaseChangeLikeliness": self.phase_change_likeliness,
            "phaseChangeHistory": self.phase_change_history,
        }


# Retention tier definitions: tier name -> TTL days, relative to the table's
# high watermark ts (north_rule: cascading raw -> 1m -> 1h -> 1d downsamples
# with TTL-driven expiry). Truncation units: operators/rollup.py TIER_TRUNC.
DEFAULT_TIERS: dict[str, dict] = {
    "raw": {"ttl_days": 7},
    "1m": {"ttl_days": 30},
    "1h": {"ttl_days": 180},
    "1d": {"ttl_days": 3650},
}
