"""Structured Streaming runner + sinks (reference Phase 2, SURVEY.md
§7): the same plan functions from ``plans/`` run behind readStream in
update mode, landing in idempotent upsert sinks via foreachBatch —
the Spark equivalence of the reference's per-record keyed reduce +
JDBC ON CONFLICT upserts (SURVEY.md §2.3 emission argument).

This package holds only what ``job.py`` runs: ``runner`` (the four
queries), ``sinks`` (DuckDB / JDBC upserts), ``ddl`` (the sink tables)
and ``es_sink`` (the ``--enable-es`` mirror).
"""
