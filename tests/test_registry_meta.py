"""Registry-shape pins: canonical order + doc lockstep.

These tests pin (a) that ``load_all()`` returns one canonical order,
whatever modules were imported first, and that the driver surface
keeps it, and (b) that COVERAGE.md's and QUERIES.md's headline counts
can't drift from the actual registry.
"""

from __future__ import annotations

import importlib
import re
from pathlib import Path

from matrix_multiplication_map_reduce_gcp_spark import registry

REPO = Path(__file__).resolve().parent.parent


def test_canonical_order_ignores_import_history():
    """Importing query modules in a non-canonical order (as
    tests/test_r5_operators.py does) must not perturb the registry's
    order: load_all() sorts by the (module index, per-module sequence)
    key stamped at decoration, not by dict insertion order."""
    import __spark_entry__

    # Deliberately import two late modules first, as a subset pytest
    # invocation might. These imports REGISTER queries out of canonical
    # insertion order when run before any load_all() in this process;
    # when run after, they are idempotent no-ops — either way the
    # listing below must be identical.
    importlib.import_module("matrix_multiplication_map_reduce_gcp_spark.text.curation")
    importlib.import_module(
        "matrix_multiplication_map_reduce_gcp_spark.operators.pagerank"
    )
    q = registry.load_all()
    orders = [qd.order for qd in q.values()]
    assert orders == sorted(orders)
    mod_rank = {m: i for i, m in enumerate(registry._QUERY_MODULES)}
    mods = [mod_rank[qd.fn.__module__] for qd in q.values()]
    assert mods == sorted(mods), "canonical order must follow _QUERY_MODULES"
    assert list(__spark_entry__.queries()) == list(q)


# events.ts is TIMESTAMP(NANOS) in parquet. Spark's loader truncates to
# microseconds; a ns-fidelity DuckDB (1.1+) keeps nanoseconds, so any
# oracle that EMITS or ORDERS BY raw ts diverges at the nano digit
# (round-1's only driver hash-fail). The fix is CAST(ts AS TIMESTAMP)
# — a no-op on µs engines, ns→µs truncation on ns engines. Oracles
# below are audited ns-safe WITHOUT the cast because they only bucket
# ts downward (date_trunc / floor(epoch...)) or never touch ts in
# output, ordering, or comparisons — downward truncation cannot flip
# those. Every NEW event-touching oracle must either carry the cast or
# be audited onto this list.
NS_SAFE_AUDITED = {
    "asof_last_order_before_event",  # o_orderdate <= ts: truncation can't cross the date boundary
    "json_extraction",  # ts unused
    "stream_tumbling_counts",  # date_trunc('hour') only
    "stream_dedup_within_watermark",  # DISTINCT on non-ts cols
    "stream_dedup_keys",  # DISTINCT on non-ts cols
    "gap_filled_hourly_counts",  # date_trunc('hour') only
    "weekly_retention_cohorts",  # floor(epoch/604800) only
    "stream_sliding_counts",  # floor(epoch/1800) only
    "stream_static_enrich",  # ts unused: joins user_id, aggregates value
    "stream_running_user_totals",  # ts unused: per-user count + cents sum
    "pit_feature_join",  # o_orderdate <= ts: truncation can't cross the date boundary; ts not emitted
    "stream_complete_topk_users",  # ts unused: per-user count + decimal value sum
    "variant_shredding_stats",  # ts unused: props-only extraction
    "universe_sample_join",  # ts unused: hash-sampled user_id join, counts only
}


def test_event_ts_oracles_cast_to_micros():
    q = registry.load_all()
    offenders = [
        n
        for n, qd in q.items()
        if qd.oracle
        and re.search(r"\bevents\b", qd.oracle)
        and "CAST(ts AS TIMESTAMP)" not in qd.oracle
        and n not in NS_SAFE_AUDITED
    ]
    assert not offenders, (
        f"event-table oracles using raw nanosecond ts without the µs cast "
        f"(add CAST(ts AS TIMESTAMP) or audit into NS_SAFE_AUDITED): {offenders}"
    )


def test_coverage_md_counts_in_lockstep():
    q = registry.load_all()
    n_total = len(q)
    n_oracle = sum(1 for qd in q.values() if qd.oracle is not None)
    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) registered queries \((\d+) DuckDB-oracle-checked", text)
    assert m, "COVERAGE.md headline count line missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"COVERAGE.md says {m.groups()}, registry has "
        f"({n_total}, {n_oracle}) — update the doc"
    )


def test_queries_md_in_lockstep():
    q = registry.load_all()
    text = (REPO / "QUERIES.md").read_text()
    m = re.search(r"(\d+) registered queries, (\d+) with DuckDB oracles", text)
    assert m, "QUERIES.md headline missing"
    n_oracle = sum(1 for qd in q.values() if qd.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (len(q), n_oracle), (
        "QUERIES.md stale — regenerate with scripts/dump_registry.py"
    )
    for name in q:
        assert f"`{name}`" in text, f"QUERIES.md missing {name}"


def test_exact_baselines_ship_a_capped_production_sibling():
    """VERDICT r8 #4: every query marked exact_baseline (audit-only,
    emits all pairs — quadratic in duplicate-group size) must ship a
    bounded production sibling named f"{name}_capped", and the marker
    must cover exactly the two pair emitters the scale audit flagged
    (57.9x / 15.9x wall at 10x data). A new emit-all-pairs query must
    either be marked here or be defensibly linear."""
    q = registry.load_all()
    baselines = {n for n, d in q.items() if d.exact_baseline}
    assert baselines == {
        "embedding_near_dup_pairs",
        "levenshtein_near_dup_pairs",
    }
    for name in baselines:
        assert f"{name}_capped" in q, f"{name}: no capped production sibling"
        assert "baseline" in (q[name].fn.__doc__ or "").lower(), name
