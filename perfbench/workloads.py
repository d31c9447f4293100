"""The benchmark's workloads: which registered queries run, on which input,
under which execution posture."""

from __future__ import annotations

import random
from dataclasses import dataclass

# Scale factor of the generated star schema both workloads read.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    landing: bool  # read the seeded multi-file landing directory
    pass_s: float  # nominal warm-pass time on a 4-core host
    env: tuple[tuple[str, str], ...] = ()  # extra environment for the engine

    def warm_passes(self, seconds: float) -> int:
        """Whole warm passes that fill ``seconds`` at the nominal pass time.
        Fixed by the run length, never by the clock, so a slow pass cannot
        change how many passes the sample holds."""
        return max(1, round(seconds / self.pass_s))

    @property
    def names(self) -> tuple[str, ...]:
        if self.name == "headline":
            from bench import HEADLINE  # the repository's historical suite

            return tuple(HEADLINE)
        return SWEEP

    def order(self, seed: int, pass_no: int) -> list[str]:
        """The query order of one pass, drawn from the seed."""
        names = list(self.names)
        random.Random(f"{seed}:{self.name}:{pass_no}").shuffle(names)
        return names


# One name per registry family. t07 is a foreachBatch monitor: every
# micro-batch runs localCheckpoint then insertInto, and the landing
# directory's part files replay as several micro-batches
# (maxFilesPerTrigger=1). c04, c07 and s05 write through the SCD,
# materialized-view and partitioned-sink paths.
SWEEP = (
    "a10_distinct",
    "c04_scd2_merge",
    "c07_mv_refresh",
    "d01_keyed_dedup",
    "f04_string_functions",
    "j05_date_join",
    "k09_aqe_coalesce",
    "m06_linear_trend",
    "o01_topk_orders",
    "p04_regex_filter",
    "q03_anomaly_rate",
    "s05_partitioned_sink_prune",
    "t07_streaming_sensor_status",
    "u02_intersect_except",
    "v02_duplicate_detection",
    "w03_lag_lead",
    "x03_language_id",
)


def get(name: str) -> Workload:
    if name == "headline":
        # The generated input sits below the engine's small-input
        # threshold; the production posture keeps whole-stage codegen on
        # and base scans unpersisted, as at bench scale.
        return Workload("headline", landing=False, pass_s=15.0,
                        env=(("SWM_POSTURE", "production"),))
    if name == "sweep":
        return Workload("sweep", landing=True, pass_s=7.5)
    raise SystemExit(f"unknown workload: {name}")
