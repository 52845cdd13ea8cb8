"""Differential tests: every Spark query vs its DuckDB oracle at sf0.01.

This mirrors the driver's t2 harness (row count + column names +
order-insensitive value comparison) so breakage shows up locally before
a round submission. The reference itself was "tested" by DuckDB being
the engine (SURVEY §5) — DuckDB is the natural oracle.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT


def _normalize(rows, columns):
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if v is None:
                v = "NULL"
            elif isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NULL"  # pandas renders SQL NULL doubles as NaN
            elif v != v:  # pd.NaT (null timestamps from fetchdf)
                v = "NULL"
            vals.append((c, str(v)))
        out.append(tuple(sorted(vals)))
    return sorted(out)


def _compare(spark, duck, name):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = qfn(spark, SF_CORRECT)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]
    ddf = duck.execute(sql).fetchdf()
    duck_cols = list(ddf.columns)
    duck_rows = ddf.to_dict("records")
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn = _normalize(spark_rows, sorted(spark_cols))
    dn = _normalize(duck_rows, sorted(spark_cols))
    assert sn == dn, f"{name}: value mismatch\nspark={sn[:3]}\nduck={dn[:3]}"


ORACLE_BACKED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_query_matches_oracle(spark, duck, name):
    _compare(spark, duck, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["n_name", "order_cnt"]


def test_all_queries_have_callables(spark):
    qs = entrymod.queries()
    assert set(entrymod.oracle_sql()) <= set(qs)


def test_registry_has_no_silent_collisions():
    """Module registries must not shadow each other's query names."""
    from data_pipeline_and_visualization_dashboard_spark import charts, queries, queries_ext
    from data_pipeline_and_visualization_dashboard_spark.extras import (
        bpe, dedup, multimodal, search, similarity, sketches, text,
    )

    mods = [queries, queries_ext, charts, dedup, text, similarity,
            sketches, bpe, search, multimodal]
    total = sum(len(m.QUERIES) for m in mods)
    assert len(entrymod.queries()) == total
    total_oracles = sum(len(m.ORACLE_SQL) for m in mods)
    assert len(entrymod.oracle_sql()) == total_oracles


# Entries where an empty result at SF_CORRECT is provably the right
# answer (each needs a justifying comment).  Currently none: VERDICT r6
# found exactly one zero-row oracle fleet-wide (q21's phantom
# "REGION_0" literal, vacuously green since r1) and it was a bug, not a
# legitimately-empty answer.
VACUOUS_WHITELIST: frozenset[str] = frozenset()

# Cardinality floor guard (VERDICT r8 next #6): for queries whose row
# count is STRUCTURAL — fixed by a top-k constant, a calendar/bucket
# domain, or the testdata's categorical shape, not by data volume —
# pin the exact expected count at SF_CORRECT.  A ≥1-row check would
# pass a top-10 that silently returned 3 rows; this won't.  Counts
# verified against the DuckDB oracle at sf0.01 (round 9).
EXPECTED_CARDINALITY = {
    "q1_top_nations": 10,            # top-10
    "q2_avg_value_by_hour": 24,      # hour domain
    "q3_event_type_pct": 5,          # event-type domain
    "q4_unit_price_by_weekday": 7,   # weekday domain
    "q5_trade_routes": 5,            # top-5
    "q8_top_users": 10,              # top-10
    "q10_type_donut": 3,             # fixed IN-list of 3 types
    "q17_top_customers_per_nation": 75,  # 3 per nation x 25 nations
    "q18_status_priority_rollup": 19,  # 3x5 cells + 3 subtotals + grand
    "q22_heatmap_pivot": 7,          # weekday rows (hours as columns)
    "q23_value_percentiles": 5,      # fixed percentile list
    "q33_status_priority_cube": 24,  # (3+1)x(5+1) cube lattice
    "q34_top_users_labeled": 10,     # top-10, left join preserves k
    "q50_equidepth_buckets": 20,     # fixed bucket count
    "q61_profile_events": 6,         # one row per profiled column
    "q64_weighted_sample": 100,      # exact-n weighted sample
    "q73_large_quantity_orders": 10,  # top-10
    "q80_market_share": 7,           # order-year domain
    "q89_session_transitions": 25,   # 5x5 type-pair matrix (dense)
    "dedup_ngram_jaccard_topk": 20,  # top-20
    "dedup_containment_topk": 20,    # top-20
    "dedup_simhash_hamming_topk": 20,  # top-20
    "sim_cosine_topk": 50,           # k x query count
    "sketch_hist_quantiles": 10,     # fixed quantile grid
    "text_bpe_compression": 21,      # merge rounds 0..20 inclusive
    "q91_decayed_engagement": 5,     # event-type domain
    "q92_value_gini": 25,            # nation domain
    "q93_rrf_fusion": 20,            # top-20 fused
    "q92_value_gini_binned": 25,     # nation domain
    "q94_hhi_concentration": 25,     # nation domain
    "sim_search_rrf": 15,            # top-15 fused (union of two
                                     # depth-20 lists always >= 15)
    "sketch_ams_hhi": 1,             # one-row global monitor readout
    "q95_top_decile_share": 25,      # nation domain
    "text_pack_sequences": 4,        # doc-length band domain (32-token
                                     # bands over 10-99-token docs)
    "q96_theil_decomposition": 25,   # nation domain
    "q97_atkinson_index": 25,        # nation domain
    "sketch_cm_join_card": 1,        # one-row join-size readout
    "q98_last_touch_attribution": 5,  # 4 non-purchase channels + (none)
    "q99_linear_attribution": 5,     # same channel domain as q98
    "q100_rfm_segments": 125,        # 25 nations x 5 canonical
                                     # segments (dense at sf0.01)
}


def test_structural_cardinalities_pinned(duck):
    """Oracle row counts for structurally-sized queries must equal the
    pinned constants — the strong form of the vacuous-green guard: a
    top-k that returns fewer than k, a calendar domain with holes, or
    a sample that under-fills fails here even though every row still
    hash-matches. The duck side suffices (the differential test pins
    spark_rows == duck_rows)."""
    oracles = entrymod.oracle_sql()
    wrong = {}
    for name, want in EXPECTED_CARDINALITY.items():
        got = len(duck.execute(oracles[name]).fetchall())
        if got != want:
            wrong[name] = (got, want)
    assert not wrong, f"structural cardinality drift (got, want): {wrong}"


def test_binned_gini_accuracy_envelope(spark):
    """q92_value_gini_binned's estimate quality vs the exact rank
    statistic at SF_CORRECT: binned-from-atoms Gini ignores within-bin
    inequality, so per nation it must (a) never exceed the exact value
    by more than float noise (lower-bound property) and (b) sit within
    a small absolute envelope of it at 64 bins — the twin is an
    approximation of the SAME quantity, not a different statistic."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q92_value_gini,
        q92_value_gini_binned,
    )

    exact = {
        r.n_name: r.gini for r in q92_value_gini(spark, SF_CORRECT).collect()
    }
    binned = {
        r.n_name: r.gini_binned
        for r in q92_value_gini_binned(spark, SF_CORRECT).collect()
    }
    assert set(binned) == set(exact) and len(exact) == 25
    for nation, g in exact.items():
        gb = binned[nation]
        assert gb <= g + 1e-6, (nation, gb, g)
        assert g - gb <= 0.02, (nation, gb, g)


def _assert_oracles_nonempty(duck, names):
    oracle = entrymod.oracle_sql()
    empty = [
        n for n in names
        if n not in VACUOUS_WHITELIST
        and len(duck.execute(oracle[n]).fetchall()) == 0
    ]
    assert not empty, (
        f"vacuously-green oracle queries (0 rows at {SF_CORRECT}): {empty}; "
        "fix the query or whitelist with a justification"
    )


def test_no_vacuously_green_oracles(duck):
    """Every oracle-backed query must return >=1 row at SF_CORRECT.

    Guard for the q21 class of bug (VERDICT r6 wrong #1): a filter
    literal that matches nothing makes BOTH engines return 0 rows, so
    the hash comparison passes forever without the query's logic ever
    being exercised.  The duck side suffices: the per-query
    differential test already pins spark_rows == duck_rows, so a
    non-empty oracle forces a non-empty Spark result too.
    """
    _assert_oracles_nonempty(duck, entrymod.oracle_sql())


def test_no_vacuously_green_oracles_check_first(duck):
    """Fast-tier variant of test_no_vacuously_green_oracles over the
    driver's correctness window (`_CHECK_FIRST`) only, so a vacuous
    oracle in the window fails the default tier too."""
    oracle = entrymod.oracle_sql()
    window = [n for n in entrymod._CHECK_FIRST if n in oracle]
    assert window  # the window holds oracle-backed entries
    _assert_oracles_nonempty(duck, window)


def test_readme_counts_match_registry():
    """README's headline registry counts must track the actual
    registry — docs that overstate (or understate) coverage are worse
    than no docs."""
    import re

    text = open("README.md").read()
    m = re.search(r"(\d+) queries, (\d+) DuckDB-oracle-backed", text)
    assert m, "README must state the registry counts"
    assert int(m.group(1)) == len(entrymod.queries())
    assert int(m.group(2)) == len(entrymod.oracle_sql())
    # The rows-only count (queries minus oracles) drifted once
    # (README said 14 when the registry had 15 — VERDICT r4 wrong #1);
    # pin it so all three numbers move together or the test fails.
    m2 = re.search(r"the (\d+)\s*\nrows-only entries", text)
    assert m2, "README must state the rows-only entry count"
    assert int(m2.group(1)) == (
        len(entrymod.queries()) - len(entrymod.oracle_sql())
    )


def test_bench_headline_and_window_wellformed():
    """Two string lists silently degrade on typos: a HEADLINE name
    missing from the registry crashes bench.py only at runtime, and a
    misspelled _CHECK_FIRST entry is silently DROPPED by the window
    builder (`if k in registry`), shrinking the driver's 50-slot
    correctness window without any error. Pin both."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE, family

    registry = entrymod.queries()
    missing = [q for q in HEADLINE if q not in registry]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert len(set(HEADLINE)) == len(HEADLINE)  # no duplicates
    assert all(
        family(q) in {"sql", "dedup", "text", "similarity",
                      "sketches", "media"}
        for q in HEADLINE
    )
    window = entrymod._CHECK_FIRST
    unknown = [q for q in window if q not in registry]
    assert not unknown, f"_CHECK_FIRST names not in registry: {unknown}"
    assert len(window) == 50, (
        f"driver window must fill exactly its 50 slots, got "
        f"{len(window)}"
    )
    assert len(set(window)) == 50  # duplicates would waste slots
