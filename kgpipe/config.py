"""Pipeline configuration.

Window sizes mirror the reference's constants
(timeline_delegator.py:23-27): DTR_WINDOW_RADIUS=10, MAX_TLINK_DISTANCE=60,
TLINK_PAD_LENGTH=2 (score.TLINK_PAD_LENGTH, not configurable),
CHEMO_TUI='T061'.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # reference constants (timeline_delegator.py:23-27)
    max_tlink_distance: int = 60      # token window for mention<->timex pairing
    dtr_window_radius: int = 10       # token context for DTR instances
    keep_tui: str = "T061"            # TUI filter (F1)
    min_term_span: int = 2            # minimumSpan=2 (Timelines.piper:14)

    # optional classifier stages (reference --use_dtr / --use_conmod flags)
    use_dtr: bool = False
    use_conmod: bool = False

    # gazetteer term-consumer semantics: "all spans" (DefaultTermConsumer,
    # gazetteer.xml:53-62) vs longest-only (PrecisionTermConsumer)
    all_spans: bool = True

    # materialization
    salt_partitions: int = 0          # >0: salted repartition before grouped ops

    # hot-conversation chunking for cross-turn stages (chunk + halo)
    conv_chunk_turns: int = 4096
    cross_turn_max_gap: int = 8       # event-event edges within this turn gap


# Label inversion map — exact copy of the reference's TLINK label algebra
# (timeline_delegator.py:53-66). Applied when the timex precedes the event
# in text (timeline_delegator.py:449-455).
LABEL_TO_INVERTED_LABEL = {
    "before": "after",
    "after": "before",
    "begins-on": "ends-on",
    "ends-on": "begins-on",
    "overlap": "overlap",
    "contains": "contains-1",
    "noted-on": "noted-on-1",
    "contains-1": "contains",
    "noted-on-1": "noted-on",
    "contains-subevent": "contains-subevent-1",
    "contains-subevent-1": "contains-subevent",
    "none": "none",
}

DEFAULT_CONFIG = PipelineConfig()
