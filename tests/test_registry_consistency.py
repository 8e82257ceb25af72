"""Registry cross-references: every name used by the driver contract,
bench, and the scale probe must resolve to a real queries() entry.
Pure-Python lint — no Spark session."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from aiotcvectordb_spark import queries as Q


def test_every_oracle_has_a_query():
    missing = set(Q.ORACLES) - set(Q.QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_bench_headline_resolves():
    import bench

    missing = set(bench.HEADLINE) - set(Q.QUERIES)
    assert not missing, f"bench headline without queries: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate headline"
    # a renamed exclusion must not silently put its entry back on the bench
    stale = bench._NOT_BENCHED - set(Q.QUERIES)
    assert not stale, f"bench exclusions without queries: {stale}"


def test_scale_probe_resolves():
    import scale_probe

    missing = set(scale_probe.PROBE_QUERIES) - set(Q.QUERIES)
    assert not missing, f"probe names without queries: {missing}"


def test_oracle_sql_mentions_no_unregistered_tables():
    """Oracles may only reference the driver's pre-registered views."""
    import re

    allowed = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
        # DuckDB table functions
        "range", "unnest", "generate_series",
    }
    for name, sql in Q.ORACLES.items():
        tables = set(re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql))
        unknown = tables - allowed - {
            # CTE names and derived relations are fine; only flag names
            # that LOOK like base tables but aren't registered. CTEs are
            # declared in the same SQL text:
            *re.findall(
                r"([a-z_][a-z0-9_]*)\s*(?:\([a-z0-9_, ]*\))?\s+AS\s*(?:MATERIALIZED\s+)?\(",
                sql,
            ),
        }
        # subselects introduce parenthesized FROMs the regex skips; any
        # residual unknown name is a genuine missing view
        assert not unknown, f"{name}: unregistered tables {unknown}"


def test_driver_row_rotation_enforced():
    """The rotation invariant must hold in whichever state the repo is
    in — pre-driver (close-time: simulated batch consumption) or
    post-driver (judge-time: the batch is the latest green set). See
    tools/check_driver_rows.py for the CAP math."""
    import check_driver_rows

    assert check_driver_rows.main() == 0


def test_rotation_validate_pre_driver_mode():
    """Close-time: a stalest-first order with all at-cap rows in the
    batch is green; leaving an at-cap row out of the batch is red."""
    from check_driver_rows import validate

    # 5 queries, batch 2 -> cap = ceil(5/2) = 3
    rows = {"a": 1, "b": 2, "c": 3, "d": 4, "e": 4}
    good = ["a", "b", "c", "d", "e"]  # batch {a,b}: a is age 3 = cap, in batch
    mode, fails = validate(good, rows, 4, rewrites={}, batch_size=2)
    assert mode.startswith("pre-driver") and not fails, fails
    # swap a out of the batch: age-3 row would be 4 rounds old post-driver
    bad = ["c", "b", "a", "d", "e"]
    _, fails = validate(bad, rows, 4, rewrites={}, batch_size=2)
    assert any("a:" in f for f in fails)
    # a rewritten query with a fresh row must still be fronted
    _, fails = validate(good, rows, 4, rewrites={"e": 5}, batch_size=2)
    assert any("e:" in f for f in fails)
    # ordering violation: fresher row before a staler one
    disorder = ["a", "d", "b", "c", "e"]
    _, fails = validate(disorder, rows, 4, rewrites={}, batch_size=2)
    assert any("not stalest-first" in f for f in fails)


def test_rotation_validate_post_driver_mode():
    """Judge-time: when the batch equals the latest green set, only the
    age cap (<= cap-1) and rewrite-freshness rules apply — ordering of
    the just-consumed batch is moot."""
    from check_driver_rows import validate

    # batch {a,b} was just consumed in r5 -> post-driver detection
    rows = {"a": 5, "b": 5, "c": 4, "d": 4, "e": 3}
    order = ["a", "b", "c", "d", "e"]  # cap-1 = 2; e is age 2 -> ok
    mode, fails = validate(order, rows, 5, rewrites={}, batch_size=2)
    assert mode.startswith("post-driver") and not fails, (mode, fails)
    # a row that rotted past cap-1 is red even post-driver
    rows_bad = {"a": 5, "b": 5, "c": 4, "d": 4, "e": 2}
    _, fails = validate(order, rows_bad, 5, rewrites={}, batch_size=2)
    assert any("e:" in f for f in fails)


def test_rotation_survives_simulated_driver_round():
    """End-to-end: the REAL registry order must be green now AND stay
    green after the driver consumes the front batch (the exact judge
    failure mode of rounds 3-5)."""
    from check_driver_rows import REWRITES, load_rows, validate

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_row, latest_round = load_rows(root)
    if not latest_round:
        return
    oracled = [n for n in Q.QUERIES if n in Q.ORACLES]
    mode, fails = validate(oracled, latest_row, latest_round)
    assert not fails, (mode, fails)
    if mode.startswith("post-driver"):
        return  # already the judge-time state
    # simulate the driver run: front batch refreshed at current_round
    sim_rows = dict(latest_row)
    for n in oracled[:50]:
        sim_rows[n] = latest_round + 1
    mode2, fails2 = validate(oracled, sim_rows, latest_round + 1)
    assert mode2.startswith("post-driver"), mode2
    assert not fails2, fails2
