"""The world tier: every registered key against every dirty-data world
declared in tests/worlds.py, plus the ingest tests that need a world's
tables but are not registry sweeps, and the fast guards on the slow
tiers' hand-written specs.

Run one world by name with ``-k``, e.g.
``python -m pytest -o addopts= tests/test_worlds.py -k negid``.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest

from systematic_review_classification_spark import all_oracles, all_queries
from systematic_review_classification_spark.sources.tables import TABLES, load
from tests.harness import check_keys, write_tables
from tests.worlds import AMBIGUOUS_PROPS, LAYOUTS, ROW_ID, SCHEMA, WORLDS, base, json_events


@pytest.fixture(scope="module")
def world_dir(spark, tmp_path_factory):
    """Each world written once per module run, on first use."""
    dirs = {}

    def get(name):
        if name not in dirs:
            w = WORLDS[name]
            dirs[name] = write_tables(spark, tmp_path_factory.mktemp(name), w.tables,
                                      w.layout, retype=w.retype)
        return dirs[name]

    return get


@pytest.mark.slow  # builder tier: full-registry sweep (see pytest.ini)
@pytest.mark.parametrize("name", list(WORLDS))
def test_world_sweep(spark, world_dir, name):
    w = WORLDS[name]
    skip = w.all_excluded() | set(w.diverges)
    keys = [k for k in all_queries() if k not in skip]
    fails = check_keys(spark, world_dir(name), keys, casts=w.duck_casts)
    assert not fails, f"{len(fails)} keys broke on the {name} world: {fails}"


@pytest.mark.slow
@pytest.mark.parametrize("name,key", [
    pytest.param(n, k, id=f"{n}-{k}",
                 marks=pytest.mark.xfail(raises=AssertionError, strict=True, reason=why))
    for n, w in WORLDS.items() for k, why in w.diverges.items()
])
def test_world_open_divergence(spark, world_dir, name, key):
    fails = check_keys(spark, world_dir(name), [key], casts=WORLDS[name].duck_casts)
    assert not fails, fails


def test_world_specs_are_consistent():
    """Fast-tier guard for the slow sweep: a typo in a world spec fails
    here in seconds instead of two hours into the slow tier."""
    registered = set(all_queries())
    assert set(SCHEMA) == set(TABLES)
    for name, w in WORLDS.items():
        assert set(w.tables) == set(TABLES), name
        assert w.reason, f"{name}: no hazard docstring"
        assert w.layout in LAYOUTS, name
        # every excluded key must exist: a renamed key would leave an
        # exclusion that silently excludes nothing
        named = w.all_excluded() | set(w.diverges)
        assert named <= registered, (name, named - registered)
        assert all(w.excluded.values()), f"{name}: exclusion without a reason"
        assert all(w.diverges.values()), f"{name}: divergence without its output"
        for t, cols in SCHEMA.items():
            over = w.retype.get(t, {})
            # drift overrides may only retype canonical columns
            assert set(over) <= set(cols), (name, t, set(over) - set(cols))
            assert all(over[c] != cols[c] for c in over), (name, t)
            names = [c.split(" ")[0] for c in w.ddl(t).split(", ")]
            assert names == list(cols), (name, t)
            for r in w.tables[t]:
                assert len(r) == len(cols), (name, t, r)
            # primary keys stay unique (the combo offsets included)
            ids = [(r[0], r[list(cols).index(ROW_ID[t])]) for r in w.tables[t]]
            assert len(ids) == len(set(ids)), f"{name}.{t}: duplicate primary key"


def test_slow_tier_key_lists_are_consistent():
    """The same guard over the slow tiers' hand-written key lists (the
    property fuzzers' ``_*_KEYS`` and the empty-corpus sweep): every
    key registered, oracled where it is compared, and listed once."""
    from tests import test_property
    from tests.test_edge_values import EMPTY_CORPUS_KEYS

    registered, oracled = set(all_queries()), set(all_oracles())
    compared = {n: v for n, v in vars(test_property).items()
                if n.endswith("_KEYS") and isinstance(v, list)}
    assert "_KEYS" in compared  # the guard still sees the fuzzers' lists
    for name, keys in {**compared, "EMPTY_CORPUS_KEYS": EMPTY_CORPUS_KEYS}.items():
        assert len(keys) == len(set(keys)), (name, {k for k in keys if keys.count(k) > 1})
        assert set(keys) <= registered, (name, set(keys) - registered)
        if name in compared:
            assert set(keys) <= oracled, (name, set(keys) - oracled)


@pytest.mark.slow
def test_json_keys_abort_safe_on_ambiguous_json(spark, tmp_path):
    """Duplicate-key / beyond-range JSON (the badjson world's
    AMBIGUOUS_PROPS): values are out of contract, but the Spark side
    must still null-propagate, never crash."""
    d = write_tables(spark, tmp_path, base(events=json_events(AMBIGUOUS_PROPS)))
    queries = all_queries()
    for key in ("fn_json", "fn_map", "fn_variant"):
        rows = queries[key](spark, d).collect()
        assert len(rows) == len(AMBIGUOUS_PROPS), key


# --- wider-than-canonical drift ------------------------------------
# The inverse of the schema-drift worlds (r10 ADVICE): an upstream
# export ships a column WIDER than canonical — BIGINT l_linenumber
# where the engine's canonical is INT, DECIMAL(12,2) prices where
# canonical is DOUBLE. load() must NOT silently narrow (an ANSI
# narrowing cast can abort mid-query on overflow; decimal→double is
# lossy): the contract is a loud ValueError at ingest, before any
# query plan is built.


@pytest.mark.slow
def test_wider_than_canonical_drift_fails_loudly_at_ingest(spark, tmp_path):
    d = write_tables(spark, tmp_path / "wide_world", {"lineitem": [
        (1, 1, 1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", dt.datetime(1997, 3, 2))
    ]}, retype={"lineitem": {"l_linenumber": "bigint"}})
    with pytest.raises(ValueError, match="l_linenumber.*not an exact widening"):
        load(spark, d, "lineitem")


@pytest.mark.slow
def test_lossy_decimal_drift_fails_loudly_at_ingest(spark, tmp_path):
    d = write_tables(spark, tmp_path / "decimal_world", {"orders": [
        (1, 1, "O", decimal.Decimal("1000.50"), dt.datetime(1997, 3, 1), "1-URGENT")
    ]}, retype={"orders": {"o_totalprice": "decimal(12,2)"}})
    with pytest.raises(ValueError, match="o_totalprice.*not an exact widening"):
        load(spark, d, "orders")
