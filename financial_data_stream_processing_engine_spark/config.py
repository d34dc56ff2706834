"""Engine configuration.

Typed replacement for the reference's ConfigurationManager singleton
(reference: financial_engine.py:20-56).  The reference keeps a global
string->value dict; here configuration is an immutable dataclass passed
explicitly.

Reference config keys preserved (financial_engine.py:25-42):
  moving_average_window=5, price_alert_threshold=108.0, log_level, and
  the AlphaVantage fetch interval.  The WebSocket and CSV mocks' fetch
  intervals become the live engine's ``ws_rows_per_second`` /
  ``csv_rows_per_second`` rates.  ``processing_delay_ms`` is a
  simulation artifact and intentionally dropped (SURVEY.md §2.3).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    """Global engine configuration.

    Defaults mirror the reference's ConfigurationManager defaults
    (financial_engine.py:25-42) so the compat core reproduces the same
    behavior out of the box.
    """

    moving_average_window: int = 5
    price_alert_threshold: float = 108.0
    log_level: str = "INFO"
    symbols: tuple[str, ...] = ("IBM", "MSFT", "AAPL", "GOOGL")
    #: seconds between the live engine's AlphaVantage polls
    av_poll_interval_s: float = 15.0
    # Scale knobs (not in the reference — 100 TB discipline, SURVEY.md §7):
    #: state TTL for streaming keyed state: a symbol idle for longer
    #: restarts its window on its next tick (the reference keeps every
    #: window forever, financial_engine.py:298).  Enforced lazily from
    #: the state's last-update time, so it schedules no idle batches.
    state_ttl_ms: int = 24 * 3600 * 1000
    #: shuffle partitions of batch queries for local runs (AQE coalesces
    #: them); on a real cluster leave to AQE.  The live engine's state
    #: partitions do not follow this: they come from the task slots
    #: (``session._state_partitions``).
    shuffle_partitions: int = 32


DEFAULT_CONFIG = EngineConfig()
