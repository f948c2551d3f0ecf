"""Mirror of the driver's correctness gate: every registered query runs on
Spark AND on the DuckDB oracle; results must match as order-insensitive
multisets with identical column names.

Strict equality (no float tolerance) on purpose — the driver compares value
hashes, so any drift my tolerance would hide still fails the real gate.
Queries are responsible for rounding float aggregates identically on both
sides (queries/base.py conventions).
"""

from __future__ import annotations

import pytest

from map_reduce_engine_spark.queries import REGISTRY
from map_reduce_engine_spark.queries.base import normalize_result


ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


def _drain(work, run, results: dict, lock) -> None:
    """Run ``run(name)`` for each name left on the ``work`` queue, storing
    its record under the name. An exception that escapes ``run`` is
    recorded against the entry it was running, and the worker goes on to
    the next one, so no later entry is left without a result."""
    from queue import Empty

    while True:
        try:
            name = work.get_nowait()
        except Empty:
            return
        try:
            rec = run(name)
        except Exception as e:  # noqa: BLE001 — reported by test_matches_oracle
            # BaseException.__repr__ reads only e.args, so it cannot fail the
            # way a Py4J error's own str() can once the JVM link is gone
            rec = {"err": f"{type(e).__name__} escaped the parity worker: {BaseException.__repr__(e)}"}
        with lock:
            results[name] = rec


@pytest.mark.quick
def test_drain_records_an_escaping_error_and_goes_on():
    import threading
    from queue import SimpleQueue

    class Escaping(RuntimeError):
        pass

    def run(name):
        if name == "b":
            raise Escaping("boom")
        return {"err": None, "name": name}

    work: SimpleQueue = SimpleQueue()
    for n in "abc":
        work.put(n)
    results: dict = {}
    _drain(work, run, results, threading.Lock())
    assert results["a"] == {"err": None, "name": "a"} and results["c"]["name"] == "c"
    assert results["b"]["err"] == "Escaping escaped the parity worker: Escaping('boom')"


@pytest.fixture(scope="session")
def parity_results(spark, sf_dir):
    """Evaluate EVERY oracle query once through a 4-worker parallel sweep
    (one ``spark.newSession()`` clone per worker — shared context, separate
    SQLConf, so loop-scoped conf overrides can't leak across concurrently
    planned queries; one DuckDB cursor per entry), caching each query's
    normalized outputs. The parametrized tests below assert from this
    cache, so the parity block's wall time is one contended sweep instead
    of ~450 sequential Spark+DuckDB round trips (r12, VERDICT r11 #5: the
    full suite must fit the driver's verify window). The comparison
    semantics per query are unchanged — same session config, same
    normalization, same strict equality."""
    import threading
    from queue import SimpleQueue

    import duckdb

    from map_reduce_engine_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    results: dict[str, dict] = {}
    lock = threading.Lock()
    work: SimpleQueue = SimpleQueue()
    for n in ORACLE_QUERIES:
        work.put(n)

    def run_entry(name: str, session) -> dict:
        rec: dict = {"err": None}
        try:
            q = REGISTRY[name]
            sdf = q.fn(session, sf_dir)
            rec["spark_cols"] = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            cur = con.cursor()
            try:
                rel = cur.sql(q.oracle)
                rec["duck_cols"] = rel.columns
                duck_rows = rel.fetchall()
            finally:
                cur.close()
            _, rec["s_norm"] = normalize_result(spark_rows, rec["spark_cols"])
            _, rec["d_norm"] = normalize_result(duck_rows, rec["duck_cols"])
        except Exception as e:  # noqa: BLE001 — surfaced by the per-query test
            rec["err"] = f"{type(e).__name__}: {e}"
        return rec

    def worker(session) -> None:
        _drain(work, lambda name: run_entry(name, session), results, lock)

    sessions = [spark.newSession() for _ in range(4)]
    threads = [threading.Thread(target=worker, args=(s,)) for s in sessions]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    con.close()
    return results


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_matches_oracle(name, parity_results):
    rec = parity_results.get(name)
    assert rec is not None, f"{name}: no result recorded"
    assert rec["err"] is None, f"{name}: {rec['err']}"
    spark_cols, duck_cols = rec["spark_cols"], rec["duck_cols"]
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    s_norm, d_norm = rec["s_norm"], rec["d_norm"]
    assert len(s_norm) == len(d_norm), f"{name}: row count {len(s_norm)} != {len(d_norm)}"
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        pytest.fail(f"{name}: value mismatch, first diffs (spark, duck): {diffs}")


def test_sampled_segmentation_salted_oracle_parity(spark, duck, sf_dir):
    """The salted draw is oracle-checked through the SAME parameterized
    builder as the registry's salt=0 pin: both engines hash
    '3:' || word and must agree row-for-row (VERDICT r08 ask #3's
    done-criterion)."""
    from map_reduce_engine_spark.queries.retrieval import (
        sampled_segmentation_oracle,
        unigram_sampled_segmentation,
    )

    sdf = unigram_sampled_segmentation(spark, sf_dir, salt=3)
    rel = duck.sql(sampled_segmentation_oracle(salt=3))
    s_cols, s_norm = normalize_result([tuple(r) for r in sdf.collect()], sdf.columns)
    d_cols, d_norm = normalize_result(rel.fetchall(), rel.columns)
    assert s_cols == d_cols and s_norm == d_norm


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_output_types_portable(name, duck):
    """No oracle may emit HUGEINT (or other non-portable) output columns.

    DuckDB widens integer sum() to HUGEINT; duckdb 1.0.0 fetchall() happens
    to render HUGEINT as a Python int, but other builds/fetch paths render it
    differently — the round-4 driver red on fairness_parity_audit (rows and
    schema matched, values hash-mismatched, unreproducible locally) was
    exactly this. Oracles must CAST sums and //-results to BIGINT so the
    value representation cannot depend on the DuckDB version running them.
    """
    rel = duck.sql(REGISTRY[name].oracle)
    bad = [
        f"{c}:{t}"
        for c, t in zip(rel.columns, [str(x) for x in rel.types])
        if "HUGEINT" in t or "INT128" in t or t.startswith("DECIMAL")
    ]
    assert bad == [], f"{name}: non-portable oracle output columns {bad}"


def test_every_query_has_an_oracle():
    """The registry's invariant since round 2: NO rows-only entries — every
    query (including trained-model ones, via verdict oracles) is
    hash-comparable against DuckDB. A regression here silently weakens the
    driver's correctness gate, so it fails loudly instead of skipping."""
    assert ROWS_ONLY_QUERIES == [], f"queries without oracles: {ROWS_ONLY_QUERIES}"


def test_approx_quantile_within_bound(spark, sf_dir, duck):
    """The query self-verifies (GK estimate vs exact interpolated percentile,
    1% bound) — every verdict boolean must be True, and the explicit
    interpolation formula must agree with DuckDB's quantile_cont."""
    rows = {
        r.l_returnflag: r for r in REGISTRY["approx_quantile_sketch"].fn(spark, sf_dir).collect()
    }
    exact = {
        row[0]: (row[1], row[2])
        for row in duck.sql(
            "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5),"
            " quantile_cont(l_extendedprice, 0.9) FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    assert set(rows) == set(exact)
    for flag, r in rows.items():
        assert r.p50_within and r.p90_within, (flag, r)
        assert abs(r.exact_p50 - exact[flag][0]) <= 1e-4, (flag, r.exact_p50, exact[flag])
        assert abs(r.exact_p90 - exact[flag][1]) <= 1e-4, (flag, r.exact_p90, exact[flag])


def test_stratified_sample_fractions(spark, sf_dir, duck):
    """Seeded Bernoulli sampling per language must land near the requested
    25% fraction in every stratum (binomial 5-sigma bound)."""
    got = {
        r.lang: r.n_sampled
        for r in REGISTRY["stratified_sample"].fn(spark, sf_dir).collect()
    }
    totals = dict(duck.sql("SELECT lang, count(*) FROM documents GROUP BY 1").fetchall())
    for lang, total in totals.items():
        n = got.get(lang, 0)
        mean, sd = 0.25 * total, (total * 0.25 * 0.75) ** 0.5
        assert abs(n - mean) <= 5 * sd + 1, (lang, n, total)


def test_approx_distinct_within_rsd(spark, sf_dir, duck):
    """The query self-verifies (HLL++ estimate vs exact count-distinct,
    max(3, 10%) bound) — every within_error verdict must be True and the
    exact side must match DuckDB."""
    from map_reduce_engine_spark.queries import REGISTRY

    rows = {
        r.o_orderpriority: r
        for r in REGISTRY["approx_distinct_sketch"].fn(spark, sf_dir).collect()
    }
    exact = dict(
        duck.sql(
            "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert set(rows) == set(exact)
    for k, r in rows.items():
        assert r.within_error, (k, r)
        assert r.exact_customers == exact[k], (k, r.exact_customers, exact[k])


def test_hll_sketch_union_within_bound(spark, sf_dir, duck):
    """The unioned DataSketches HLL estimate must land within 5% of the
    exact overall distinct count, and the per-group estimates within 5%
    of their exact twins — the mergeability property that lets sketches
    pre-aggregate per partition at 100 TB."""
    from map_reduce_engine_spark.queries import REGISTRY

    rows = {
        r.o_orderpriority: r for r in REGISTRY["hll_sketch_rollup"].fn(spark, sf_dir).collect()
    }
    exact = dict(
        duck.sql(
            "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    exact["__all__"] = duck.sql(
        "SELECT count(DISTINCT o_custkey) FROM orders"
    ).fetchone()[0]
    assert set(rows) == set(exact)
    for k, r in rows.items():
        assert r.within_error, (k, r)
        assert r.exact_customers == exact[k], (k, r.exact_customers, exact[k])
