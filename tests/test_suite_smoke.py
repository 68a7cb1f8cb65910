"""Smoke: every suite query runs at sf0.001 and returns rows with the
expected columns (full oracle comparison lives in
tools/check_correctness.py and the driver's own harness)."""

import pytest

from kiji_mapreduce_spark import suite

MAY_BE_EMPTY = set()


@pytest.mark.parametrize("name", sorted(suite.QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = suite.QUERIES[name](spark, sf_dir)
    rows = df.limit(5000).collect()
    assert df.columns, name
    if name not in MAY_BE_EMPTY:
        assert len(rows) > 0, f"{name} returned no rows"


def test_every_oracle_has_a_query():
    assert set(suite.ORACLES) <= set(suite.QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as m
    df = m.entry(spark)
    assert df.count() > 0
    assert set(m.oracle_sql()) <= set(m.queries())


def test_first_window_membership():
    """The driver's oracle harness checks the FIRST 50 registry entries;
    window membership for must-verify queries is enforced here instead of
    by comment discipline (a mid-dict insertion silently evicting an
    unverified query was a live failure mode — ADVICE r3)."""
    window = list(suite.QUERIES)[:50]
    missing = set(suite.FIRST_WINDOW_REQUIRED) - set(window)
    assert not missing, (
        f"must-verify queries fell out of the first-50 window: {missing}")


def test_verification_ledger_freshness():
    """VERIFIED.json (regenerated by tools/update_verified.py from the
    CORRECTNESS_r*.json pile) is the committed record of when each
    registry query was last driver-green. Enforced here: any query whose
    last green round is 2+ rounds old — or that has never been verified
    — must sit inside the first-50 window so the CURRENT round
    re-verifies it. This replaces registry-comment discipline, under
    which dedup_source_matrix silently aged to r2 (r5 verdict ask #1)."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "VERIFIED.json")
    assert os.path.exists(path), (
        "VERIFIED.json missing — run tools/update_verified.py")
    with open(path) as f:
        ledger = json.load(f)

    # the ledger itself must not be stale: regenerate it each round once
    # the previous round's CORRECTNESS artifact lands (tolerate being
    # one behind, for the moment the driver writes the current round's
    # artifact before the ledger is refreshed)
    import glob
    import re

    rounds = [int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
              for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))]
    assert ledger["as_of_round"] >= max(rounds) - 1, (
        f"VERIFIED.json as_of_round={ledger['as_of_round']} but "
        f"CORRECTNESS_r{max(rounds):02d}.json exists — rerun "
        "tools/update_verified.py")

    window = set(list(suite.QUERIES)[:50])
    current_round = ledger["as_of_round"] + 1
    last_green = ledger["last_green"]
    # a query added MID-ROUND when the window had zero slack may sit at
    # the tail never-verified ONLY during the round it was added (it was
    # locally hash-driven at sf0.01; NEW_PENDING_WINDOW documents it) —
    # the exemption self-expires: next round the pending round no longer
    # matches and the query must be in the window or driver-green
    pending = {
        q for q, rnd in suite.NEW_PENDING_WINDOW.items()
        if rnd == current_round and q not in last_green}
    assert set(suite.NEW_PENDING_WINDOW) <= set(suite.QUERIES)
    stale = sorted(
        q for q in suite.QUERIES
        if q not in window and q not in pending
        and last_green.get(q, 0) <= current_round - 2)
    assert not stale, (
        f"queries stale (last green <= r{current_round - 2}) or never "
        f"verified sit OUTSIDE the first-50 window: {stale} — rotate "
        "them into FIRST_WINDOW_REQUIRED")
    # and every ledger row must reference a live registry query
    assert set(last_green) <= set(suite.QUERIES)


def test_window_boundary_comment():
    """The '---- window boundary ----' comment in the registry must sit
    exactly after entry 50: r5 added entries at the head without moving
    it, silently pushing three 'inside the window' queries outside
    (review finding). Parse the source and count dict entries above the
    marker."""
    import inspect
    import re

    from kiji_mapreduce_spark.suite import registry as registry_mod

    src = inspect.getsource(registry_mod)
    registry = src[src.index("QUERIES: dict"):]
    boundary = registry.index("window boundary")
    above = registry[:boundary]
    n_entries = len(re.findall(r'^\s{4}"[a-z0-9_]+":', above, re.M))
    assert n_entries == 50, (
        f"{n_entries} registry entries precede the window-boundary "
        "comment; adding at the head requires re-slotting the boundary")


def _update_verified_mod():
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "update_verified", os.path.join(repo, "tools/update_verified.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod, repo


def test_window_matches_required_rotation():
    """r9 verdict #6: the rotation is now tool-emitted, not comment
    discipline. The committed QUERIES prefix must contain every query
    tools/update_verified.py computes as needing a slot for the
    CURRENT ledger — the exact check main() performs, run here so a
    skipped rotation turns pytest red even before the driver runs."""
    import json
    import os

    uv, repo = _update_verified_mod()
    with open(os.path.join(repo, "VERIFIED.json")) as f:
        ledger = json.load(f)
    order = uv.registry_order(repo)
    assert len(order) == len(set(order)), "duplicate registry entries"
    required = uv.required_window(ledger, order, uv.registry_pending(repo))
    window = order[:uv.WINDOW_SIZE]
    missing = [q for q in required if q not in window]
    assert not missing, (
        f"queries needing verification slots are outside the committed "
        f"first-{uv.WINDOW_SIZE} prefix: {missing} — run "
        "tools/update_verified.py and rotate QUERIES to its output")
    # and the source-parsed pending map matches the live registry's
    assert uv.registry_pending(repo) == suite.NEW_PENDING_WINDOW


def test_required_window_reproduces_r9_failure_mode():
    """The r9 no-op round: ledger stamped 7 for 50 tail queries while
    as_of_round reached 9 via an unrotated window. required_window must
    demand exactly those tail queries, stalest-first, and a window that
    ignores them must show as missing."""
    uv, _ = _update_verified_mod()

    order = [f"fresh_{i}" for i in range(50)] + [f"stale_{i}"
                                                for i in range(50)]
    ledger = {"as_of_round": 9, "last_green": {
        **{q: 9 for q in order[:50]},
        **{q: 7 for q in order[50:]},
    }}
    required = uv.required_window(ledger, order)
    assert required == order[50:]  # the 50 r7-stamped tail queries
    unrotated_window = order[:50]  # what r9 actually verified
    assert [q for q in required if q not in unrotated_window] == order[50:]

    # a brand-new query is exempt only while its NEW_PENDING round is
    # the current one
    fresh_ledger = {"as_of_round": 9,
                    "last_green": {q: 9 for q in order}}
    order2 = order + ["brand_new"]
    assert "brand_new" in uv.required_window(fresh_ledger, order2)
    assert "brand_new" not in uv.required_window(
        fresh_ledger, order2, pending={"brand_new": 10})
    assert "brand_new" in uv.required_window(
        {"as_of_round": 10, "last_green": {q: 10 for q in order}},
        order2, pending={"brand_new": 10})

    # overflow (the cap can no longer be met inside one window) is loud
    import pytest

    ledger_all_stale = {"as_of_round": 9,
                        "last_green": {q: 7 for q in order}}
    with pytest.raises(SystemExit, match="fell more than a round"):
        uv.required_window(ledger_all_stale, order)


def test_staged_registry_invariants():
    """STAGED seat candidates stay OUT of the driver-facing sets
    (window, bench, ledger) but every one carries an oracle and a
    name no registry query already owns."""
    from kiji_mapreduce_spark import suite

    assert set(suite.STAGED) == set(suite.STAGED_ORACLES)
    assert not set(suite.STAGED) & set(suite.QUERIES)
    for name, fn in suite.STAGED.items():
        assert callable(fn), name
        assert "SELECT" in suite.STAGED_ORACLES[name].upper(), name


def test_widen_narrow_scan_widens_and_skips(spark):
    """The r15 fixture widener: a narrow frame is hash-repartitioned to
    the target; a frame already at/above the target passes through
    with NO added exchange; the scan-partition cache is honored."""
    from kiji_mapreduce_spark.suite import common

    narrow = spark.range(100).coalesce(1)
    widened = common.widen_narrow_scan(narrow, 4, "id")
    assert widened.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in widened.collect()) == list(range(100))

    wide = spark.range(100).repartition(8, "id")
    same = common.widen_narrow_scan(wide, 4, "id")
    assert same is wide  # no repartition inserted

    # cache short-circuits the partition probe: a key cached as wide
    # skips the repartition even for a narrow frame
    key = ("test-app", "/tmp/widen-probe")
    common._SCAN_PARTS_CACHE[key] = 64
    try:
        cached = common.widen_narrow_scan(narrow, 4, "id", cache_key=key)
        assert cached is narrow
    finally:
        common._SCAN_PARTS_CACHE.pop(key, None)


def test_widened_scan_cache_sees_rewritten_fixture(spark, tmp_path):
    """A fixture rewritten with more files within one application is
    measured again: the scan-partition cache keys on file mtime/size."""
    from kiji_mapreduce_spark.suite import common

    target = common.compute_parallel_target(spark)
    path = str(tmp_path / "documents.parquet")

    def widened():
        df = common._t_widened(spark, str(tmp_path), "documents", "id")
        return df._jdf.queryExecution().executedPlan().toString()

    spark.range(100).coalesce(1).write.parquet(path)
    assert "Exchange" in widened()  # one file -> repartitioned
    spark.range(100).repartition(target + 2).write.mode(
        "overwrite").parquet(path)
    assert "Exchange" not in widened()  # now wide enough: no shuffle


def test_schema_cache_sees_rewritten_fixture(spark, tmp_path):
    """A fixture rewritten with an extra column within one application
    reads with its new schema: the schema cache keys on file
    mtime/size."""
    from kiji_mapreduce_spark.suite import common

    path = str(tmp_path / "documents.parquet")
    spark.range(10).write.parquet(path)
    assert common._t(spark, str(tmp_path), "documents").columns == ["id"]
    spark.range(10).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite").parquet(path)
    df = common._t(spark, str(tmp_path), "documents")
    assert df.columns == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == list(range(0, 20, 2))
