"""Driver contract smoke: entry() returns rows with a stable schema; the
queries()/oracle_sql() key relationship holds."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.schema.simpleString() == "struct<constraint:string,n:bigint>"
    rows = df.collect()
    assert len(rows) > 0
    assert any(r.n > 0 for r in rows)


def test_queries_oracle_key_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # every query callable accepts (spark, sf_dir)
    import inspect
    for name, fn in qs.items():
        assert len(inspect.signature(fn).parameters) == 2, name


def test_registry_holds_the_80_names():
    """The registry holds all 80 query names, and every oracle
    belongs to a registered query."""
    from xmlschema_spark.queries import ORACLES, QUERIES
    assert len(QUERIES) == 80
    assert set(ORACLES) <= set(QUERIES)


# Queries with NO DuckDB oracle, each with the reason it is not
# SQL-expressible. Growing this set is a release decision, not a
# default — the driver's gate records these as weaker rows-only checks.
# (Empty: every quantile query runs on the canonical q-digest, whose
# digests and quantiles are hash-checked; quantile_sketch_rank_check
# gates the digest's rank guarantee against exact ranks.)
NO_ORACLE_EXCEPTIONS: set[str] = set()


def test_every_query_has_oracle_or_documented_exception():
    """Release gate (round-4 VERDICT #4): a query without an oracle is
    invisible to the hash gate — every registered query must have an
    oracle_sql() entry or a documented exception above."""
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    missing = qs - oracles - NO_ORACLE_EXCEPTIONS
    assert not missing, f"queries with no oracle and no documented " \
                        f"exception: {sorted(missing)}"
    stale = NO_ORACLE_EXCEPTIONS - qs
    assert not stale, f"documented exceptions no longer registered: " \
                      f"{sorted(stale)}"
    overlap = NO_ORACLE_EXCEPTIONS & oracles
    assert not overlap, f"exceptions that now HAVE oracles (remove " \
                        f"from the list): {sorted(overlap)}"


def test_queries_run_at_smoke_scale(spark):
    """Every registered query must at least execute at sf0.001 (schema
    errors, missing tables, bad SQL surface here rather than in the
    driver's gate)."""
    qs = entrymod.queries()
    failures = []
    for name, fn in qs.items():
        try:
            fn(spark, "/root/testdata/sf0.001").limit(1).collect()
        except Exception as e:  # noqa: BLE001
            failures.append((name, str(e)[:120]))
    assert not failures, failures
