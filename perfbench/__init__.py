"""Event-delivery benchmark for the WRP routing pipeline.

Drives ``xmidt_event_streams_spark.app.run_app`` end to end with seeded
WRP traffic and a benchmark-owned sink, checks every delivery against an
independent reference of the filter semantics, and prints one JSON
result line. Entry point: ``python3 perfbench/run.py --help``.
"""
