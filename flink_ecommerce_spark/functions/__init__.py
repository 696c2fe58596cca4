"""Scalar/array helper functions.

- ``portable``: deterministic hashes that produce IDENTICAL values in
  Spark and in ANSI-SQL engines (DuckDB) — the foundation of the
  oracle-checkable dedup/fingerprint operators.
- ``vector``: embedding math (dot, norm, cosine) as built-in Spark
  higher-order functions (JVM-side, whole-stage-codegen'd — no Python
  in the hot path).
"""
