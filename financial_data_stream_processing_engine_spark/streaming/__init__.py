"""Structured Streaming layer: streaming sources, time/row-count
windows, watermarks and stateful operators (SURVEY.md §7 M3).  Sinks
are Spark's own: the live engine's observers share one ``foreachBatch``
(``engine.LiveEngine._fanout``), and catalog entries and tests write to
the built-in memory sink.
"""
