"""Plan-fingerprint ledger: the machine-checkable half of the
verification-rotation invariant.

The driver externally certifies (oracle value-match) only the first
50 registry queries each round; every query OUTSIDE that window keeps
its certification from an earlier round PRECISELY BECAUSE its plan is
unchanged since. That used to be a hand-maintained claim. This module
pins it: ``plan_ledger.json`` records a normalized fingerprint of
every query's optimized logical plan as of its last certification,
and tests/test_certification_invariant.py recomputes fingerprints for
all out-of-window queries — any drift fails the suite until the query
is rotated back into the verify window (registry._VERIFY_FIRST).

Regenerate after deliberately changing windowed queries::

    python -m tests.plan_fp

(only run it when the changed queries ARE in the window — the test
enforces exactly that before the ledger can be trusted again).

The fingerprint hashes the ANALYZED logical plan (not the optimized
one): the invariant guards *source* changes to query definitions, and
the optimizer introduces cross-session nondeterminism the source
never had (RewriteDistinctAggregates assigns grouping ids in JVM-hash
order, so two sessions order a multi-countDistinct Expand
differently). Normalization then strips the run-varying parts of the
string: expression ids (``#123``), lambda-variable counters
(``x_45``), and file URIs — everything else (operators, expressions,
literals, including data-derived literals like collected centroids,
which are deterministic for the fixed fixtures) is fingerprinted.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

LEDGER_PATH = Path(__file__).with_name("plan_ledger.json")
LEDGER_SF = "/root/testdata/sf0.001"


def normalize_plan(plan: str) -> str:
    s = re.sub(r"#\d+", "#x", plan)
    s = re.sub(r"file:[^\s,\]\)]*", "file:PATH", s)
    s = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_n", s)
    return s


def plan_fingerprint(df) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()
    return hashlib.md5(normalize_plan(plan).encode()).hexdigest()


def compute_all(spark) -> dict[str, str]:
    from flink_ecommerce_spark import registry

    return {
        name: plan_fingerprint(spec.fn(spark, LEDGER_SF))
        for name, spec in registry.SPECS.items()
    }


def load_ledger() -> dict[str, str]:
    return json.loads(LEDGER_PATH.read_text())


def externally_certified() -> set[str]:
    """Queries holding at least one VALUE-certified green row
    (rows+schema+hash all matched) in any round's external CORRECTNESS
    artifact — the only set whose ledger fingerprints protect a real
    certification. Rows-only observations (``err == "no_oracle"``, a
    row count recorded but nothing about values or schema validated)
    deliberately do NOT count: anchoring the laundering guard on them
    would pool a fingerprint that certifies nothing with the
    hash-certified ones (ADVICE r04). Use ``rows_only_observed`` to
    see that weaker set; its members' fingerprints track HEAD."""
    names: set[str] = set()
    for p in sorted(Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                names.add(name)
    return names


def rows_only_observed() -> set[str]:
    """Queries whose only external signal is the weaker rows-observed
    check (no oracle; a row count recorded without error). Tracked
    separately from :func:`externally_certified` so the two are never
    pooled."""
    names: set[str] = set()
    for p in sorted(Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            ):
                names.add(name)
    return names


def main() -> None:
    import os

    # plans embed spark.sql.shuffle.partitions (ensure_parallelism
    # targets it) — mirror tests/conftest.py exactly or the
    # fingerprints won't be comparable with the pytest session's
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

    from flink_ecommerce_spark import registry
    from flink_ecommerce_spark.session import get_spark

    spark = get_spark(
        "plan-ledger", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    current = compute_all(spark)
    window = set(list(registry.SPECS)[:50])
    certified = externally_certified()
    if LEDGER_PATH.exists():
        # ONLY in-window and never-certified entries refresh: an
        # out-of-window query's CERTIFIED fingerprint must never be
        # overwritten by a regen — otherwise accidental drift could be
        # laundered instead of failing test_certification_invariant
        # until the query is rotated into the window. A query with no
        # green row in any CORRECTNESS_r*.json has no certification to
        # protect yet — its ledger entry tracks HEAD by policy
        # (COVERAGE.md "Verification rotation").
        old = load_ledger()
        ledger = {
            name: current[name]
            if (name in window or name not in old or name not in certified)
            else old[name]
            for name in current
        }
        laundered = [
            n for n in current
            if n not in window
            and n in old
            and n in certified
            and old[n] != current[n]
        ]
        if laundered:
            print(
                "NOT updating drifted certified out-of-window "
                f"fingerprints (rotate into _VERIFY_FIRST instead): {laundered}"
            )
    else:
        ledger = current
    LEDGER_PATH.write_text(json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    print(f"wrote {LEDGER_PATH} ({len(ledger)} fingerprints)")


if __name__ == "__main__":
    main()
