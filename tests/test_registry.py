"""Registry ordering contract: the driver checks a prefix of queries(),
so the priority list must be well-formed and actually lead the map."""

from __future__ import annotations

from parallel_mapreduce_spark.registry import (
    DRIVER_PRIORITY,
    QUERIES,
    _load_all,
    oracle_map,
    query_map,
)


def test_priority_names_exist_and_are_unique():
    _load_all()
    missing = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    assert missing == [], f"priority list references unknown queries: {missing}"
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY))


def test_priority_fits_the_driver_window():
    # The driver's checked window is ~50 queries; the hand-ordered front
    # must fit inside it (remaining slots self-fill with the oldest-rowed
    # green re-checks).
    assert len(DRIVER_PRIORITY) <= 50


def test_query_map_leads_with_still_needy_priority_and_covers_everything():
    from parallel_mapreduce_spark.registry import _driver_latest_status

    _load_all()
    status = _driver_latest_status()
    green = {n for n, (_, ok) in status.items() if ok}
    live_pri = [n for n in DRIVER_PRIORITY if n not in green]
    names = list(query_map())
    assert names[: len(live_pri)] == live_pri
    assert set(names) == set(QUERIES)
    assert len(names) == len(QUERIES)


def test_oracle_map_subset_of_query_map_with_same_leading_order():
    oracles = list(oracle_map())
    queries = list(query_map())
    pos = {n: i for i, n in enumerate(queries)}
    assert all(n in pos for n in oracles)
    assert oracles == sorted(oracles, key=pos.__getitem__)


def test_cli_list_and_run(capsys, spark):
    """The __main__ CLI lists the full registry and runs a query end-to-end
    against the same session-cached scan layer."""
    from parallel_mapreduce_spark.__main__ import main
    from parallel_mapreduce_spark.registry import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert len([l for l in out.splitlines() if l.strip()]) == len(QUERIES)
    assert main(["run", "wordcount", "--sf-dir", "/root/testdata/sf0.001",
                 "--limit", "3", "--json"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(lines) == 3
    assert main(["run", "no_such_query"]) == 2


def test_ordering_puts_needy_before_green_and_rotates_recheck_tail():
    """Every red-or-unrowed query must precede every green one, and the
    green tail (minus forced VALUE_CHANGED re-rows, which lead it) must be
    ordered oldest-latest-row first, so (a) a wider driver window always
    lands on fresh surface and (b) re-check slots rotate through the
    stalest verifications without hand edits."""
    from parallel_mapreduce_spark.registry import (
        QUERIES,
        VALUE_CHANGED,
        _driver_latest_status,
        _ordered_names,
    )

    names = _ordered_names()
    status = _driver_latest_status()
    green = {n for n, (_, ok) in status.items() if ok}
    forced = {
        n
        for n, rnd in VALUE_CHANGED.items()
        if n in green and status[n][0] < rnd
    }
    seen_green = False
    last_round = 0
    for n in names:
        if n in forced:
            seen_green = True  # forced re-rows lead the green tail
        elif n in green:
            seen_green = True
            assert status[n][0] >= last_round, f"green tail not oldest-first at {n}"
            last_round = status[n][0]
        else:
            assert not seen_green, f"needy {n} after a green query"
    assert len(names) == len(QUERIES)


def test_value_changed_greens_outrank_the_stale_green_rotation():
    """Round-9 verdict item 1: a green driver row earned BEFORE a query's
    output values changed is stale evidence — those names must sit between
    the needy front and the ordinary green tail so the driver's ~50-query
    window re-rows them next round, and must drop out by themselves once a
    row from >= the change round lands."""
    from parallel_mapreduce_spark.registry import (
        QUERIES,
        VALUE_CHANGED,
        _driver_latest_status,
        _ordered_names,
    )

    assert all(n in QUERIES for n in VALUE_CHANGED), "unknown VALUE_CHANGED name"
    status = _driver_latest_status()
    green = {n for n, (_, ok) in status.items() if ok}
    names = _ordered_names()
    pos = {n: i for i, n in enumerate(names)}
    forced = [
        n
        for n, rnd in VALUE_CHANGED.items()
        if n in green and status[n][0] < rnd
    ]
    cleared = [
        n
        for n, rnd in VALUE_CHANGED.items()
        if n in green and status[n][0] >= rnd
    ]
    ordinary_greens = [n for n in green if n not in set(forced)]
    if forced and ordinary_greens:
        first_ordinary = min(pos[n] for n in ordinary_greens)
        for n in forced:
            assert pos[n] < first_ordinary, (
                f"value-changed {n} (stale row r{status[n][0]}) ranked "
                "behind an ordinary green re-check"
            )
    # Self-clearing: a fresh row puts the name back in the normal rotation
    # (it must NOT still lead the tail purely by being listed).
    for n in cleared:
        stalest = min(
            (status[g][0] for g in ordinary_greens if g != n), default=None
        )
        if stalest is not None and status[n][0] > stalest:
            assert pos[n] > min(
                pos[g] for g in ordinary_greens if g != n
            ), f"cleared VALUE_CHANGED name {n} still forced to the front"


def test_all_green_window_is_exactly_the_stalest_fifty():
    """Round-5 verdict item #5: once every query is green on its latest
    driver row (the steady state from r5 on), the 50-name driver window
    must be EXACTLY the 50 stalest-latest-row names — the re-check
    rotation is the window's whole job when nothing is red. Skipped (via
    the needy guard) if a future round re-introduces red/unrowed rows,
    where the other window tests take over."""
    from parallel_mapreduce_spark.registry import (
        QUERIES,
        _driver_latest_status,
        _load_all,
        _ordered_names,
    )

    from parallel_mapreduce_spark.registry import VALUE_CHANGED

    _load_all()
    status = _driver_latest_status()
    needy = [n for n in QUERIES if not status.get(n, (0, False))[1]]
    if needy:
        return  # red/unrowed exist: covered by the priority-window test
    reg_pos = {n: i for i, n in enumerate(QUERIES)}
    forced = [
        n
        for n in VALUE_CHANGED
        if n in QUERIES and status[n][0] < VALUE_CHANGED[n]
    ]
    tail = sorted(
        (n for n in QUERIES if n not in set(forced)),
        key=lambda n: (status[n][0], reg_pos[n]),
    )
    expected = (forced + tail)[:50]
    assert _ordered_names()[:50] == expected, (
        "all-green window is not forced-value-changed + stalest latest-row"
    )


def test_priority_window_prefers_red_and_unrowed_queries():
    """The recurring stale-window bug (shipped r3->r4 AND r4->r5): the
    driver value-checks only the first 50 names of queries(), so every
    query that is red on its latest driver row, and every query with no
    driver row at all, must be inside that window before any already-green
    query is re-checked. If red+unrowed overflow the window, the window
    must consist solely of them. This test fails the moment a round closes
    without rotating DRIVER_PRIORITY."""
    from parallel_mapreduce_spark.registry import (
        QUERIES,
        _driver_latest_status,
        _load_all,
        _ordered_names,
    )

    _load_all()
    status = _driver_latest_status()
    needy = [n for n in QUERIES if not status.get(n, (0, False))[1]]
    window = set(_ordered_names()[:50])
    if len(needy) <= 50:
        left_out = [n for n in needy if n not in window]
        assert left_out == [], (
            "red/unrowed queries outside the 50-name driver window "
            f"(rotate DRIVER_PRIORITY): {left_out}"
        )
    else:
        greens_in_window = [
            n for n in window if status.get(n, (0, False))[1]
        ]
        assert greens_in_window == [], (
            "window re-checks green queries while red/unrowed overflow it: "
            f"{greens_in_window}"
        )


def test_oracle_timestamps_never_compare_fractional_epochs():
    """Regression guard for the sub-second granularity bug class: engine
    plans compare event times via unix_timestamp (whole seconds), so any
    oracle using epoch(ts) must truncate first (date_trunc/floor) — a raw
    fractional epoch can resolve orderings the engine cannot see. The two
    intentional exceptions (date_diff arithmetic, window-start epochs on
    already-truncated values) don't use the bare pattern."""
    import re

    from parallel_mapreduce_spark.registry import QUERIES, _load_all

    _load_all()
    # Any epoch(...) applied to the raw event-time column — bare, qualified
    # (epoch(e.ts)) or over an aggregate of it (epoch(MIN(ts))) — yields a
    # fractional-second DOUBLE in DuckDB while the engine compares whole
    # seconds; it must be floor()ed or fed a date_trunc'd value.
    bare = re.compile(r"epoch\(\s*(?:\w+\.)?(?:MIN\(|MAX\()?\s*(?:\w+\.)?ts\s*\)?", re.I)
    guarded = re.compile(
        r"(floor\s*\(\s*epoch\(|epoch\(\s*date_trunc)", re.I
    )
    offenders = []
    for name, spec in QUERIES.items():
        if not spec.oracle:
            continue
        for line in spec.oracle.splitlines():
            if bare.search(line) and not guarded.search(line):
                offenders.append((name, line.strip()))
    assert not offenders, offenders


def test_oracle_window_orderings_truncate_event_time():
    """Companion guard for ORDERINGS: a window ORDER BY on the raw ts
    column compares parquet-native precision in DuckDB while the engine's
    decode is micro-truncated — if the testdata generator ever flips
    events.ts back to TIMESTAMP(NANOS) (it has flipped units between
    rounds), nanosecond-only ties would order differently. Oracles must
    order by CAST(ts AS TIMESTAMP) (micros; a no-op today) instead."""
    import re

    from parallel_mapreduce_spark.registry import QUERIES, _load_all

    _load_all()
    bad = re.compile(r"ORDER\s+BY\s+(?:\w+\.)?ts\b", re.I)
    offenders = []
    for name, spec in QUERIES.items():
        if not spec.oracle:
            continue
        for line in spec.oracle.splitlines():
            if bad.search(line):
                offenders.append((name, line.strip()))
    assert not offenders, offenders


def test_next_query_drops_the_deferred_cache(spark, sf_dir):
    """The registered entry is the one callable every caller reaches (the
    registry, the module attribute, the driver's map), and it sets up the
    session before the body: cached_table_reuse's CACHE TABLE outlives its
    call, and the next query, even one that reads no temp view, drops it
    through PENDING_UNCACHE."""
    from parallel_mapreduce_spark import mr
    from parallel_mapreduce_spark.operators.relational import CACHED_HOT_VIEW

    _load_all()
    assert query_map()["mr_wordcount"] is QUERIES["mr_wordcount"].fn is mr.mr_wordcount
    assert mr.mr_wordcount.__wrapped__.__name__ == "mr_wordcount"
    for nxt in ("mr_wordcount", "stream_events_hourly"):
        QUERIES["cached_table_reuse"].fn(spark, sf_dir)
        assert spark.catalog.isCached(CACHED_HOT_VIEW)
        QUERIES[nxt].fn(spark, sf_dir)
        assert not spark.catalog.isCached(CACHED_HOT_VIEW), nxt
