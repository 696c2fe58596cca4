"""Structured Streaming runner + sinks (reference Phase 2, SURVEY.md
§7): stateless queries behind readStream land in upsert sinks via
foreachBatch, and the sinks keep the three running sums — the Spark
equivalent of the reference's per-record keyed reduce + JDBC ON
CONFLICT upserts, with the sum kept where the reference's Postgres
keeps it and an epoch ledger making a replayed batch a no-op.

This package holds only what ``job.py`` runs: ``runner`` (the four
queries), ``sinks`` (DuckDB / JDBC upserts), ``ddl`` (the sink tables
and the epoch ledger) and ``es_sink`` (the ``--enable-es`` mirror).
"""
