"""Structured Streaming surface (SURVEY.md §7 P5).

- ``windows``  — tumbling/sliding/session event-time windows + watermark,
  shared batch/streaming code (batch twins are the DuckDB-checked
  queries; the streaming pytest drives the same functions through a
  file-source stream).
- ``stateful`` — applyInPandasWithState custom operators (the streaming
  analog of the reference's reducef fold contract).
- ``replay``   — the harness the stream queries share: replays staged
  files one per micro-batch and checks that it did.
"""

from mapreduce_system_spark.streaming import replay, stateful, windows  # noqa: F401
