"""Differential query fuzzing: hypothesis-generated relational queries run
through BOTH engines and hash-compared.

The conformance registry proves its hand-written queries pairwise; this fuzzer walks
a constrained query space (filters x group-bys x integer-exact aggregates x
a broadcast dim join) and asserts Spark and DuckDB agree on EVERY sampled
point — the systematic version of the registry's pairwise checks, catching
dialect/semantics divergences no hand-written list would think to write.

The generated SQL is a single string executed verbatim on both engines, so
it must live in the portable dialect subset the repo's oracles use:
- integer-exact aggregates only (COUNT/MIN/MAX/BIGINT SUM) — float sums are
  summation-order-dependent and legitimately differ at the ulp;
- sums wrapped in CAST(... AS BIGINT) — DuckDB widens integer SUM to
  HUGEINT whose fetch rendering is build-dependent (round-4 driver red);
- doubles are cast to BIGINT only when integral (round(x * 100) first):
  DuckDB ROUNDS double->int casts, Spark TRUNCATES — casting a non-integral
  double is a genuine cross-engine divergence the generator must not emit;
- timestamps compared through CAST(ts AS DATE) >= DATE '...' (wall-time
  safe on non-UTC Spark sessions, identical in DuckDB).
"""

from __future__ import annotations

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_engine_spark.queries.base import normalize_result


def _ex(n: int) -> int:
    """Fuzz depth, scaled by $MRE_FUZZ_DEPTH (default 1). Every fuzz here is
    derandomized, so the default depth is a deterministic PREFIX of the
    deeper run — reduced defaults (r12, VERDICT r11 #5: the suite must fit
    the driver's verify window) keep every generator class represented
    while `MRE_FUZZ_DEPTH=4 pytest tests/test_differential_fuzz.py`
    reproduces the historical full-depth sweep that rounds 4-11 ran green."""
    return max(1, int(n * float(os.environ.get("MRE_FUZZ_DEPTH", "1"))))

# ---------------------------------------------------------------- dialect

# (table, join clause or None)
SOURCES = [
    ("lineitem", None),
    ("orders", None),
    ("lineitem", "JOIN part ON l_partkey = p_partkey"),
    ("documents", None),
    ("events", None),
]

# per-source pools: bounded-cardinality group keys and predicates
KEYS = {
    0: [
        "l_returnflag",
        "l_linestatus",
        "CAST(l_quantity AS BIGINT) % 5",
        "CAST(CAST(l_shipdate AS DATE) >= DATE '1997-01-01' AS INT)",
    ],
    1: [
        "o_orderstatus",
        "o_orderpriority",
        "o_custkey % 7",
    ],
    2: [
        "p_brand",
        "l_returnflag",
        "p_size % 10",
    ],
    # string-function group keys: upper/substr/length are SQL-standard and
    # 1-indexed in both dialects; the fixture text is ASCII so length
    # semantics cannot diverge on encoding
    3: [
        "lang",
        "source",
        "upper(lang)",
        "substr(source, 1, 3)",
        "n_chars % 7",
        "length(text) % 5",
    ],
    4: [
        "event_type",
        "user_id % 5",
        "CAST(ts AS DATE)",
    ],
}

PREDS = {
    0: [
        "l_quantity >= {q}",
        "l_quantity < {q}",
        "l_discount >= 0.05",
        "l_returnflag = 'R'",
        "l_linestatus <> 'F'",
        "CAST(l_shipdate AS DATE) >= DATE '1997-06-01'",
        "l_orderkey % {m} = 0",
    ],
    1: [
        "o_totalprice >= {p}",
        "o_totalprice < {p}",
        "o_orderstatus = 'O'",
        "o_orderpriority IN ('1-URGENT', '2-HIGH')",
        "o_orderpriority LIKE '1%'",
        "CAST(o_orderdate AS DATE) < DATE '1998-01-01'",
        "o_custkey % {m} = 1",
    ],
    2: [
        "p_size >= {s}",
        "p_size < {s}",
        "l_quantity >= {q}",
        "p_brand LIKE 'Brand#1%'",
        "l_returnflag = 'A'",
    ],
    3: [
        "n_chars >= {nc}",
        "n_chars < {nc}",
        "lang = 'en'",
        "lang IN ('en', 'fr', 'de')",
        "source LIKE 'src1%'",
        "trim(text) <> ''",
        "length(text) >= {nc}",
        "doc_id % {m} = 0",
    ],
    4: [
        "event_type = 'purchase'",
        "event_type IN ('click', 'view')",
        "value >= {v}",
        "value < {v}",
        "CAST(ts AS DATE) >= DATE '2024-01-10'",
        "user_id % {m} = 2",
    ],
}

AGGS = {
    0: [
        "COUNT(*) AS n",
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_qty",
        "MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents",
        "MAX(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_cents",
        "COUNT(DISTINCT l_orderkey) AS n_orders",
    ],
    1: [
        "COUNT(*) AS n",
        "MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents",
        "MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents",
        "COUNT(DISTINCT o_custkey) AS n_custs",
    ],
    2: [
        "COUNT(*) AS n",
        "CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS s_size",
        "COUNT(DISTINCT l_partkey) AS n_parts",
        "MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents",
    ],
    3: [
        "COUNT(*) AS n",
        "CAST(SUM(n_chars) AS BIGINT) AS s_chars",
        "MIN(n_chars) AS min_chars",
        "MAX(length(text)) AS max_len",
        "COUNT(DISTINCT lang) AS n_langs",
        "MIN(lang) AS min_lang",
    ],
    4: [
        "COUNT(*) AS n",
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_cents",
        "MIN(CAST(round(value * 100) AS BIGINT)) AS min_cents",
        "MAX(CAST(round(value * 100) AS BIGINT)) AS max_cents",
        "COUNT(DISTINCT user_id) AS n_users",
        "MIN(CAST(ts AS DATE)) AS first_day",
    ],
}

# projection pools for non-aggregate (multiset) queries
PROJ = {
    0: ["l_orderkey", "l_linenumber", "l_returnflag", "CAST(l_quantity AS BIGINT) AS q"],
    1: ["o_orderkey", "o_orderstatus", "o_orderpriority"],
    2: ["l_orderkey", "p_brand", "p_size"],
    3: ["doc_id", "lang", "source", "n_chars", "substr(text, 1, 8) AS head"],
    4: ["event_id", "user_id", "event_type", "CAST(ts AS DATE) AS day"],
}

# keyed window functions: (partition key, order prefix) per source, plus a
# pool of window expressions templated on those. Sums inside windows are
# BIGINT-wrapped (DuckDB widens to HUGEINT). The ORDER BY appends the
# windowed VALUE as the final tiebreak: the fixture's "key" columns are NOT
# unique (duplicate (l_orderkey, l_linenumber) rows exist — found by this
# fuzzer), and rows that tie on keys AND value are indistinguishable in the
# output projection, so the multiset comparison is engine-stable.
WIN_SPEC = {
    0: ("l_returnflag", "l_orderkey, l_linenumber, {v}", "l_orderkey"),
    1: ("o_orderstatus", "o_orderdate, o_orderkey, {v}", "o_orderkey"),
    2: ("p_brand", "l_orderkey, l_linenumber, {v}", "l_orderkey"),
    3: ("lang", "doc_id, {v}", "doc_id"),
    4: ("event_type", "ts, event_id, {v}", "event_id"),
}
WIN_VALUE = {
    0: "CAST(round(l_extendedprice * 100) AS BIGINT)",
    1: "CAST(round(o_totalprice * 100) AS BIGINT)",
    2: "CAST(p_size AS BIGINT)",
    3: "n_chars",
    4: "CAST(round(value * 100) AS BIGINT)",
}
# {w} = the unframed window spec, {wf} = the same spec with a running
# frame. Specs are inlined (Spark cannot extend a named WINDOW with a
# frame the way DuckDB can).
WIN_FNS = [
    "row_number() OVER ({w}) AS wf",
    "rank() OVER ({w}) AS wf",
    "dense_rank() OVER ({w}) AS wf",
    "lag({v}) OVER ({w}) AS wf",
    "lead({v}) OVER ({w}) AS wf",
    "CAST(SUM({v}) OVER ({w} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS wf",
    "MIN({v}) OVER ({w} ROWS UNBOUNDED PRECEDING) AS wf",
    "MAX({v}) OVER ({w} ROWS UNBOUNDED PRECEDING) AS wf",
]


@st.composite
def queries(draw):
    src = draw(st.integers(min_value=0, max_value=4))
    table, join = SOURCES[src]
    consts = {
        "q": draw(st.integers(min_value=1, max_value=50)),
        "nc": draw(st.integers(min_value=50, max_value=550)),
        "v": draw(st.integers(min_value=1, max_value=300)),
        "p": draw(st.integers(min_value=1000, max_value=300000)),
        "s": draw(st.integers(min_value=1, max_value=50)),
        "m": draw(st.integers(min_value=2, max_value=9)),
    }
    preds = [
        p.format(**consts)
        for p in draw(
            st.lists(st.sampled_from(PREDS[src]), min_size=0, max_size=3, unique=True)
        )
    ]
    where = f" WHERE {' AND '.join(preds)}" if preds else ""
    frm = f"FROM {table} {join or ''}"

    kind = draw(st.sampled_from(["agg", "proj", "window", "setop", "semi"]))
    if kind == "setop" and src not in (2,):
        # set operations between two filtered projections of the same table
        # (UNION/INTERSECT/EXCEPT are SQL-standard in both dialects; DISTINCT
        # semantics make the result order-free and duplicate-free)
        op = draw(st.sampled_from(["UNION", "INTERSECT", "EXCEPT"]))
        cols = ", ".join(
            draw(st.lists(st.sampled_from(PROJ[src]), min_size=1, max_size=2,
                          unique=True))
        )
        p1 = draw(st.sampled_from(PREDS[src])).format(**consts)
        p2 = draw(st.sampled_from(PREDS[src])).format(**consts)
        return (
            f"SELECT {cols} {frm} WHERE {p1}"
            f" {op} SELECT {cols} {frm} WHERE {p2}"
        )
    if kind == "semi" and src == 0:
        # IN / NOT IN subquery against the orders table (non-null keys, so
        # NOT IN has no three-valued-logic trap)
        neg = draw(st.sampled_from(["IN", "NOT IN"]))
        sub_pred = draw(st.sampled_from(PREDS[1])).format(**consts)
        cols = ", ".join(
            draw(st.lists(st.sampled_from(PROJ[0]), min_size=1, max_size=2,
                          unique=True))
        )
        extra = f" AND {' AND '.join(preds)}" if preds else ""
        return (
            f"SELECT {cols} FROM lineitem WHERE l_orderkey {neg} "
            f"(SELECT o_orderkey FROM orders WHERE {sub_pred}){extra}"
        )
    if kind in ("setop", "semi"):
        kind = "proj"  # sources without a set-op/semi form fall back
    if kind == "window":
        part, order, uniq = WIN_SPEC[src]
        v = WIN_VALUE[src]
        w = f"PARTITION BY {part} ORDER BY {order.format(v=v)}"
        fn = draw(st.sampled_from(WIN_FNS)).format(v=v, w=w)
        return f"SELECT {uniq}, {part} AS pk, {fn} {frm}{where}"
    if kind == "agg":
        keys = draw(
            st.lists(st.sampled_from(KEYS[src]), min_size=0, max_size=2, unique=True)
        )
        aggs = draw(
            st.lists(st.sampled_from(AGGS[src]), min_size=1, max_size=3, unique=True)
        )
        key_aliases = [f"{k} AS k{i}" for i, k in enumerate(keys)]
        select = ", ".join(key_aliases + aggs)
        group = f" GROUP BY {', '.join(keys)}" if keys else ""
        having = ""
        if keys and draw(st.booleans()):
            having = f" HAVING COUNT(*) > {draw(st.integers(min_value=0, max_value=20))}"
        return f"SELECT {select} {frm}{where}{group}{having}"
    cols = draw(
        st.lists(st.sampled_from(PROJ[src]), min_size=1, max_size=3, unique=True)
    )
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    return f"SELECT {distinct}{', '.join(cols)} {frm}{where}"


# ------------------------------------------------------------- comparison


@pytest.fixture(scope="module")
def spark_views(spark, sf_dir):
    for t in ("lineitem", "orders", "part", "documents", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark


@settings(
    max_examples=_ex(120),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sql=queries())
def test_differential_spark_vs_duckdb(spark_views, duck, sql):
    """Every sampled query must hash-match across engines (driver semantics:
    order-insensitive multiset, columns sorted by name)."""
    sdf = spark_views.sql(sql)
    _, s = normalize_result([tuple(r) for r in sdf.collect()], sdf.columns)
    rel = duck.sql(sql)
    _, d = normalize_result(rel.fetchall(), rel.columns)
    assert s == d, f"divergence on: {sql}\nfirst diffs: " + str(
        [p for p in zip(s, d) if p[0] != p[1]][:3]
    )


# -------------------------------------------------- round-6 dialect edges
#
# The edges that bit in earlier rounds, systematically fuzzed (VERDICT r05
# item 6): outer-join NULL grids (aggregates over non-matching rows),
# RANGE window frames (peer-inclusive and numeric-offset), string-function
# round-trips (substr/instr 1-indexing — note substr START 0 is a REAL
# dialect divergence: Spark treats 0 as 1, DuckDB drops position-0 chars
# into the length budget; the generator therefore only emits instr(..)+1
# starts, which are always >= 1), and decimal-cents division corners
# (floor-of-double division, modulo on BIGINT-wrapped sums — DuckDB's
# HUGEINT SUM widening makes the outer CAST mandatory). Bare decimal
# literals stay banned (DECIMAL math in DuckDB, DOUBLE in Spark):
# constants divide through CAST(n AS DOUBLE).

# (left table, right table, join key equality, right-side ON-preds pool)
OUTER_SRC = [
    (
        "orders",
        "lineitem",
        "l_orderkey = o_orderkey",
        [
            "l_quantity >= 45",
            "l_returnflag = 'R'",
            "l_discount >= 0.09",
            "CAST(l_shipdate AS DATE) >= DATE '1998-06-01'",
        ],
        ["o_orderstatus", "o_orderpriority", "o_custkey % 5"],
        "CAST(l_quantity AS BIGINT)",
        "l_orderkey",
    ),
    (
        "part",
        "lineitem",
        "l_partkey = p_partkey",
        [
            "l_quantity >= 45",
            "l_linestatus = 'F'",
            "l_orderkey % 7 = 0",
        ],
        ["p_brand", "p_size % 10"],
        "CAST(l_quantity AS BIGINT)",
        "l_orderkey",
    ),
]

STR_FUNCS = [
    "substr(source, instr(source, '{ch}') + 1, {ln})",
    "upper(lang) || '_' || substr(source, 1, 2)",
    "reverse(substr(source, 1, {ln}))",
    "replace(source, 'src', 'S')",
    "length(replace(text, ' ', '')) % 11",
    "lower(trim(substr(text, 1, {ln})))",
    "CAST(instr(source, '{ch}') AS BIGINT)",
]

RANGE_FRAMES = [
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN {n} PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN {n} PRECEDING AND {n} FOLLOWING",
    "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
]
RANGE_AGGS = ["SUM", "MIN", "MAX", "COUNT"]


@st.composite
def edge_queries(draw):
    kind = draw(
        st.sampled_from(
            ["outer", "full_grid", "range_window", "strings", "division", "rollup"]
        )
    )
    m = draw(st.integers(min_value=2, max_value=13))
    if kind == "outer":
        # LEFT JOIN with a selective predicate in the ON clause: the NULL
        # grid of non-matching rows flows into COUNT(col)/SUM/MIN semantics
        lt, rt, on, on_preds, keys, val, _ = OUTER_SRC[draw(st.integers(0, 1))]
        preds = draw(st.lists(st.sampled_from(on_preds), min_size=1, max_size=2, unique=True))
        key = draw(st.sampled_from(keys))
        return (
            f"SELECT {key} AS k0, COUNT(*) AS n, COUNT(l_orderkey) AS n_match, "
            f"CAST(SUM({val}) AS BIGINT) AS s_val, MIN({val}) AS min_val "
            f"FROM {lt} LEFT JOIN {rt} ON {on} AND {' AND '.join(preds)} "
            f"GROUP BY {key}"
        )
    if kind == "full_grid":
        # FULL JOIN of two independently-filtered aggregate grids on a
        # modular key: both sides contribute NULL rows to the other
        p1 = draw(st.sampled_from(PREDS[1])).format(p=draw(st.integers(1000, 300000)), m=m)
        p2 = draw(st.sampled_from(PREDS[0])).format(q=draw(st.integers(1, 50)), m=m)
        return (
            f"SELECT coalesce(a.k, b.k) AS k, a.n AS an, b.n AS bn "
            f"FROM (SELECT o_custkey % {m} AS k, COUNT(*) AS n FROM orders "
            f"      WHERE {p1} GROUP BY o_custkey % {m}) a "
            f"FULL JOIN (SELECT l_suppkey % {m} AS k, COUNT(*) AS n FROM lineitem "
            f"      WHERE {p2} GROUP BY l_suppkey % {m}) b ON a.k = b.k"
        )
    if kind == "range_window":
        # RANGE frames order by the VALUE itself (both engines require a
        # single numeric sort key for numeric offsets); peers share wf, so
        # the (uniq, pk, v, wf) multiset is engine-stable
        src = draw(st.sampled_from([0, 1, 4]))
        part, _, uniq = WIN_SPEC[src]
        v = WIN_VALUE[src]
        frame = draw(st.sampled_from(RANGE_FRAMES)).format(
            n=draw(st.integers(min_value=1, max_value=500))
        )
        agg = draw(st.sampled_from(RANGE_AGGS))
        inner = "*" if agg == "COUNT" else v
        table = SOURCES[src][0]
        return (
            f"SELECT {uniq}, {part} AS pk, {v} AS v, "
            f"CAST({agg}({inner}) OVER (PARTITION BY {part} ORDER BY {v} {frame}) "
            f"AS BIGINT) AS wf FROM {table}"
        )
    if kind == "strings":
        exprs = draw(st.lists(st.sampled_from(STR_FUNCS), min_size=1, max_size=3, unique=True))
        consts = {
            "ch": draw(st.sampled_from(["c", "1", "r", "z"])),
            "ln": draw(st.integers(min_value=1, max_value=9)),
        }
        cols = ", ".join(f"{e.format(**consts)} AS s{i}" for i, e in enumerate(exprs))
        pred = draw(st.sampled_from(PREDS[3])).format(
            nc=draw(st.integers(50, 550)), m=m
        )
        return f"SELECT doc_id, {cols} FROM documents WHERE {pred}"
    if kind == "rollup":
        # ROLLUP/CUBE super-aggregate grids: the NULL placeholder rows and
        # GROUPING() markers must align across engines (group keys are
        # non-null, so placeholder NULLs are unambiguous)
        src = draw(st.sampled_from([0, 1, 3, 4]))
        table = SOURCES[src][0]
        keys = draw(
            st.lists(st.sampled_from(KEYS[src]), min_size=2, max_size=2, unique=True)
        )
        op = draw(st.sampled_from(["ROLLUP", "CUBE"]))
        agg = draw(st.sampled_from(AGGS[src]))
        consts_r = {
            "q": draw(st.integers(1, 50)),
            "nc": draw(st.integers(50, 550)),
            "v": draw(st.integers(1, 300)),
            "p": draw(st.integers(1000, 300000)),
            "m": draw(st.integers(2, 9)),
        }
        pred = draw(st.sampled_from(PREDS[src])).format(**consts_r)
        return (
            f"SELECT {keys[0]} AS k0, {keys[1]} AS k1, "
            f"CAST(GROUPING({keys[0]}) AS BIGINT) AS g0, "
            f"CAST(GROUPING({keys[1]}) AS BIGINT) AS g1, {agg} "
            f"FROM {table} WHERE {pred} GROUP BY {op}({keys[0]}, {keys[1]})"
        )
    # division: floor-of-double quotients, modulo on HUGEINT-prone sums,
    # basis-point ratios through CAST(n AS DOUBLE) — never a bare decimal
    d = draw(st.integers(min_value=2, max_value=97))
    key = draw(st.sampled_from(KEYS[1]))
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    return (
        f"SELECT {key} AS k0, COUNT(*) AS n, "
        f"CAST(floor(CAST(SUM({cents}) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_cents_floor, "
        f"CAST(SUM({cents}) % {d} AS BIGINT) AS mod_d, "
        f"CAST(floor(CAST(10000 AS DOUBLE) * COUNT(DISTINCT o_custkey) / COUNT(*)) AS BIGINT) AS bp "
        f"FROM orders GROUP BY {key}"
    )


@settings(
    max_examples=_ex(100),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sql=edge_queries())
def test_differential_dialect_edges(spark_views, duck, sql):
    """Round-6 edge fuzz: outer-join NULL grids, RANGE frames, string
    round-trips, division corners, ROLLUP/CUBE super-aggregates —
    hash-matched across engines."""
    sdf = spark_views.sql(sql)
    _, s = normalize_result([tuple(r) for r in sdf.collect()], sdf.columns)
    rel = duck.sql(sql)
    _, d = normalize_result(rel.fetchall(), rel.columns)
    assert s == d, f"divergence on: {sql}\nfirst diffs: " + str(
        [p for p in zip(s, d) if p[0] != p[1]][:3]
    )


# -------------------------------------------------- round-7 dialect edges
#
# The round-6 operator surface, systematically fuzzed (VERDICT r06 item 5):
# clipped-multiset intersection shapes (the ROUGE/BLEU micro-F aggregate:
# SUM(LEAST(cand_n, ref_n)) over an equi-join of two count grids), window-
# rank pruning (the subquery WHERE rn <= k form — QUALIFY itself is a REAL
# dialect gap: DuckDB parses it, Spark 4 does not, so the portable subset
# prunes through a subquery), and div-sharded running sums vs the plain
# unpartitioned cumulative window on hypothesis-RANDOM inline VALUES rows
# (the rankselect.py sharded_running identity: per-shard cumsum + previous-
# shard offsets == global cumsum, checked bit-identically across engines).
# Window SUMs stay CAST(... AS BIGINT)-wrapped (DuckDB widens to HUGEINT).

RANK_FUNCS = ["row_number()", "rank()", "dense_rank()"]


_PATH_ALPHABET = "abzABZ09_.-!~é"  # no spaces (the path separator), no quotes


@st.composite
def round7_queries(draw):
    kind = draw(
        st.sampled_from(
            ["clip", "rank_prune", "sharded_cumsum", "interval_join", "minplus_tiebreak"]
        )
    )
    if kind == "minplus_tiebreak":
        # one min-plus path-doubling squaring over hypothesis-random edge
        # tables (the operators/unigram_lm.py Viterbi kernel): self-join on
        # the midpoint, '||'-concatenated path labels, and the per-(grp, j,
        # i) minimum picked by row_number ORDER BY (cost, path) — costs are
        # drawn from a TINY range to force ties, so the cross-engine check
        # is really about string-collation tiebreaks (both engines must
        # compare UTF-8 binary, incl. the non-ASCII char in the alphabet).
        rows = draw(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=2),  # grp
                    st.integers(min_value=0, max_value=5),  # j
                    st.integers(min_value=1, max_value=3),  # span (i = j + span)
                    st.integers(min_value=0, max_value=9),  # cost (ties likely)
                    st.text(alphabet=_PATH_ALPHABET, min_size=1, max_size=4),
                ),
                min_size=2,
                max_size=20,
            )
        )
        vals = ", ".join(
            f"({g}, {j}, {j + s}, {c}, '{p}')" for g, j, s, c, p in rows
        )
        dedup = (
            "SELECT grp, j, i, cost, path FROM ("
            "SELECT grp, j, i, cost, path, "
            "row_number() OVER (PARTITION BY grp, j, i ORDER BY cost, path) AS rn "
            "FROM {src}) WHERE rn = 1"
        )
        return (
            f"WITH e AS (SELECT * FROM (VALUES {vals}) AS t(grp, j, i, cost, path)), "
            f"e1 AS ({dedup.format(src='e')}), "
            f"u AS (SELECT grp, j, i, cost, path FROM e1 "
            f"      UNION ALL "
            f"      SELECT x.grp, x.j, y.i, x.cost + y.cost, x.path || ' ' || y.path "
            f"      FROM e1 x JOIN e1 y ON y.grp = x.grp AND y.j = x.i) "
            f"SELECT CAST(grp AS BIGINT) AS grp, CAST(j AS BIGINT) AS j, "
            f"CAST(i AS BIGINT) AS i, CAST(cost AS BIGINT) AS cost, path "
            f"FROM ({dedup.format(src='u')}) z"
        )
    if kind == "interval_join":
        # non-equi BETWEEN join (the as-of / range-join dialect surface):
        # value intervals derived from one aggregate, points from another,
        # LEFT JOIN so empty intervals surface as zero-count rows. All
        # BIGINT arithmetic — no date-interval syntax (a REAL dialect gap:
        # Spark date_add vs DuckDB INTERVAL addition).
        key = draw(st.sampled_from(KEYS[1]))
        width = draw(st.integers(min_value=100, max_value=5_000_000))
        p1 = draw(st.sampled_from(PREDS[1])).format(
            p=draw(st.integers(1000, 300000)), m=draw(st.integers(2, 9))
        )
        p2 = draw(st.sampled_from(PREDS[1])).format(
            p=draw(st.integers(1000, 300000)), m=draw(st.integers(2, 9))
        )
        cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
        return (
            f"WITH a AS (SELECT {key} AS k, CAST(MIN({cents}) AS BIGINT) AS lo, "
            f"           CAST(MIN({cents}) + {width} AS BIGINT) AS hi "
            f"           FROM orders WHERE {p1} GROUP BY {key}), "
            f"b AS (SELECT {cents} AS v FROM orders WHERE {p2}) "
            f"SELECT a.k, a.lo, a.hi, CAST(COUNT(b.v) AS BIGINT) AS n_in "
            f"FROM a LEFT JOIN b ON b.v BETWEEN a.lo AND a.hi "
            f"GROUP BY a.k, a.lo, a.hi"
        )
    if kind == "clip":
        # clipped multiset intersection between two independently-filtered
        # count grids over the same bounded key — the ROUGE/BLEU shape:
        # match = sum(least(c, r)), micro-F as floor-of-double ppm
        src = draw(st.sampled_from([0, 1, 3]))
        table = SOURCES[src][0]
        key = draw(st.sampled_from(KEYS[src]))
        consts = {
            "q": draw(st.integers(1, 50)),
            "nc": draw(st.integers(50, 550)),
            "p": draw(st.integers(1000, 300000)),
            "m": draw(st.integers(2, 9)),
            "v": draw(st.integers(1, 300)),
        }
        p1 = draw(st.sampled_from(PREDS[src])).format(**consts)
        p2 = draw(st.sampled_from(PREDS[src])).format(**consts)
        join = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
        return (
            f"WITH c AS (SELECT {key} AS g, COUNT(*) AS n FROM {table} "
            f"           WHERE {p1} GROUP BY {key}), "
            f"r AS (SELECT {key} AS g, COUNT(*) AS n FROM {table} "
            f"      WHERE {p2} GROUP BY {key}) "
            f"SELECT CAST(SUM(least(c.n, coalesce(r.n, 0))) AS BIGINT) AS clipped, "
            f"CAST(SUM(c.n) AS BIGINT) AS c_total, "
            f"CAST(SUM(coalesce(r.n, 0)) AS BIGINT) AS r_total, "
            f"CAST(floor(CAST(2000000 AS DOUBLE) * SUM(least(c.n, coalesce(r.n, 0))) "
            f"     / (SUM(c.n) + SUM(coalesce(r.n, 0)))) AS BIGINT) AS f1_ppm "
            f"FROM c {join} r ON c.g = r.g"
        )
    if kind == "rank_prune":
        # window-rank pruning through a subquery (the portable QUALIFY):
        # rank()/dense_rank() are tie-deterministic on the value ordering;
        # row_number() gets a unique tiebreak column appended
        src = draw(st.sampled_from([0, 1, 4]))
        table = SOURCES[src][0]
        part = WIN_SPEC[src][0]
        # TRULY unique row key per source (WIN_SPEC's uniq is l_orderkey,
        # which repeats across line numbers — a row_number tiebreak on it
        # would be nondeterministic); l_linenumber <= 7 so *10 is injective
        uniq = {
            0: "CAST(l_orderkey * 10 + l_linenumber AS BIGINT)",
            1: "o_orderkey",
            4: "event_id",
        }[src]
        v = WIN_VALUE[src]
        fn = draw(st.sampled_from(RANK_FUNCS))
        k = draw(st.integers(min_value=1, max_value=7))
        direction = draw(st.sampled_from(["ASC", "DESC"]))
        order = f"{v} {direction}, {uniq}" if fn == "row_number()" else f"{v} {direction}"
        cols = "uid, pk, v" if fn == "row_number()" else "pk, v"
        return (
            f"SELECT {cols}, CAST(rn AS BIGINT) AS rn FROM ("
            f"SELECT {uniq} AS uid, {part} AS pk, {v} AS v, "
            f"{fn} OVER (PARTITION BY {part} ORDER BY {order}) AS rn "
            f"FROM {table}) WHERE rn <= {k}"
        )
    # sharded_cumsum: hypothesis-random inline VALUES rows; the global
    # running sum computed plainly AND via the shard decomposition must
    # agree with each other and across engines. idx is unique by
    # construction -> ROWS frames are order-deterministic.
    rows = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=-50, max_value=50),   # k (shard source)
                st.integers(min_value=-1000, max_value=1000),  # v
            ),
            min_size=3,
            max_size=24,
        )
    )
    w = draw(st.integers(min_value=2, max_value=16))
    vals = ", ".join(f"({i}, {k}, {v})" for i, (k, v) in enumerate(rows))
    # trunc-div semantics differ from floor on negatives in NEITHER engine
    # (both truncate toward zero); shards must still be monotone in k, so
    # shift k non-negative before dividing
    return (
        f"WITH src AS (SELECT * FROM (VALUES {vals}) AS t(idx, k, v)), "
        f"d AS (SELECT idx, k, v, CAST(floor(CAST(k + 50 AS DOUBLE) / {w}) AS BIGINT) AS shard "
        f"      FROM src), "
        f"c AS (SELECT idx, k, v, shard, "
        f"      CAST(SUM(v) OVER (ORDER BY k, idx ROWS BETWEEN UNBOUNDED PRECEDING "
        f"           AND CURRENT ROW) AS BIGINT) AS plain, "
        f"      CAST(SUM(v) OVER (PARTITION BY shard ORDER BY k, idx ROWS BETWEEN "
        f"           UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS within "
        f"      FROM d), "
        f"tot AS (SELECT shard, CAST(SUM(v) AS BIGINT) AS stot FROM d GROUP BY shard), "
        f"off AS (SELECT shard, CAST(coalesce(SUM(stot) OVER (ORDER BY shard ROWS BETWEEN "
        f"        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o FROM tot) "
        f"SELECT c.idx, c.k, c.plain, CAST(c.within + off.o AS BIGINT) AS sharded, "
        f"CAST(CASE WHEN c.plain = c.within + off.o THEN 1 ELSE 0 END AS BIGINT) AS agree "
        f"FROM c JOIN off ON c.shard = off.shard"
    )


@settings(
    max_examples=_ex(100),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sql=round7_queries())
def test_differential_round7_edges(spark_views, duck, sql):
    """Round-7 edge fuzz: clipped multiset intersections, window-rank
    pruning, sharded-vs-plain running sums, non-equi BETWEEN interval
    joins — hash-matched across engines,
    and the shard identity must hold (agree = 1 on every row)."""
    sdf = spark_views.sql(sql)
    s_rows = [tuple(r) for r in sdf.collect()]
    _, s = normalize_result(s_rows, sdf.columns)
    rel = duck.sql(sql)
    _, d = normalize_result(rel.fetchall(), rel.columns)
    assert s == d, f"divergence on: {sql}\nfirst diffs: " + str(
        [p for p in zip(s, d) if p[0] != p[1]][:3]
    )
    if "agree" in sdf.columns:
        i = sdf.columns.index("agree")
        assert all(r[i] == 1 for r in s_rows), f"shard identity broke on: {sql}"


# -------------------------------------------------- round-8 operator fuzz
#
# VERDICT r07 ask #3: the round-7 operator families fuzzed against
# INDEPENDENT brute-force reimplementations (not SQL-vs-SQL — the point is
# to catch algorithmic bugs a faithful relational twin would copy): random
# token corpora with planted shared runs of random length AROUND k through
# substring_dedup_spans/survivors, and random small dictionaries through
# the FULL prune-EM unigram trainer loop vs an exhaustive-enumeration
# mirror (fuzz words are short enough that EVERY segmentation is
# enumerable, so the mirror shares no DP, no path-doubling, and no
# relational machinery with the engine).


@st.composite
def substring_corpus(draw):
    k = draw(st.integers(min_value=3, max_value=6))
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        list(draw(st.lists(st.sampled_from(vocab), min_size=1, max_size=12)))
        for _ in range(draw(st.integers(min_value=2, max_value=5)))
    ]
    # plant a shared run of length around k (k-2 .. k+4) into two docs —
    # the guarantee band: >= k caught with the full span, < k invisible
    if draw(st.booleans()):
        run = [f"r{j}" for j in range(draw(st.integers(max(1, k - 2), k + 4)))]
        for _ in range(2):
            d = draw(st.integers(0, len(docs) - 1))
            at = draw(st.integers(0, len(docs[d])))
            docs[d] = docs[d][:at] + run + docs[d][at:]
    return k, docs


def _brute_substring(docs, k, min_df=2):
    """Brute-force oracle: dict-of-tuples tile index, set arithmetic, and a
    direct interval merge — no hashing, no SQL, no Spark."""
    tiles: dict[tuple, set] = {}
    for did, toks in docs.items():
        for i in range(len(toks) - k + 1):
            tiles.setdefault(tuple(toks[i : i + k]), set()).add(did)
    rep = {t for t, holders in tiles.items() if len(holders) >= min_df}
    canon = {t: min(h) for t, h in tiles.items() if len(h) >= min_df}

    def merge(positions):  # 1-based starts -> [(start, end, tokens)]
        spans = []
        for i in sorted(positions):
            # previous start = end - k + 1; merge when the gap is <= k
            if spans and i - (spans[-1][1] - k + 1) <= k:
                s, e = spans[-1]
                spans[-1] = (s, max(e, i + k - 1))
            else:
                spans.append((i, i + k - 1))
        return [(s, e, e - s + 1) for s, e in spans]

    spans_out, surv_out = {}, {}
    for did, toks in docs.items():
        dup = {
            i + 1
            for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) in rep
        }
        rem = {
            i + 1
            for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) in canon and canon[tuple(toks[i : i + k])] != did
        }
        spans_out[did] = merge(dup)
        removed = sum(t for _, _, t in merge(rem))
        n = len(toks)
        surv_out[did] = (n, removed, n - removed, 10000 * removed // n)
    return spans_out, surv_out


@settings(
    max_examples=_ex(24),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=substring_corpus())
def test_fuzz_substring_dedup_vs_bruteforce(spark, case):
    """substring_dedup_spans/survivors over hypothesis corpora (planted
    shared runs straddling k) must equal the dict-and-sets brute force:
    identical maximal spans and identical survivorship ledgers."""
    from map_reduce_engine_spark.operators.dedup import (
        substring_dedup_spans,
        substring_dedup_survivors,
    )

    k, doc_lists = case
    docs = {i + 1: toks for i, toks in enumerate(doc_lists)}
    exp_spans, exp_surv = _brute_substring(docs, k)
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()], ["doc_id", "text"]
    )
    got_spans: dict[int, list] = {i: [] for i in docs}
    for r in substring_dedup_spans(df, "doc_id", "text", k=k).collect():
        got_spans[r.id].append((r.span_start, r.span_end, r.span_tokens))
    for i in docs:
        assert sorted(got_spans[i]) == sorted(exp_spans[i]), (k, docs, i)
    got_surv = {
        r.id: (r.n_tokens, r.removed_tokens, r.kept_tokens, r.removed_bp)
        for r in substring_dedup_survivors(df, "doc_id", "text", k=k).collect()
    }
    assert got_surv == exp_surv, (k, docs)


def _brute_excise(toks, starts, k):
    """(text, removed) after cutting the union of [s, s+k-1] for 1-based
    ``starts`` out of ``toks`` — the byte-level mirror of _excise_spans."""
    covered = set()
    for s in starts:
        covered.update(range(s, s + k))
    kept = [t for i, t in enumerate(toks, start=1) if i not in covered]
    return " ".join(kept), len(covered & set(range(1, len(toks) + 1)))


@settings(
    max_examples=_ex(12),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=substring_corpus())
def test_fuzz_substring_rewrite_and_incremental_vs_bruteforce(spark, case):
    """The per-span excision tail and the batch-vs-corpus probe over the
    same hypothesis corpora: the symmetric REWRITE's rebuilt strings must
    byte-match the brute force (canonical-holder removal positions,
    interval union, token cut), and with the corpus/batch split the
    incremental ledger + rewrite must match the index-probe brute force —
    including documents the probe empties entirely."""
    from map_reduce_engine_spark.operators.dedup import (
        incremental_substring_dedup,
        incremental_substring_rewrite,
        substring_dedup_rewrite,
    )

    k, doc_lists = case
    docs = {i + 1: toks for i, toks in enumerate(doc_lists)}
    tiles: dict[tuple, set] = {}
    for did, toks in docs.items():
        for i in range(len(toks) - k + 1):
            tiles.setdefault(tuple(toks[i : i + k]), set()).add(did)
    canon = {t: min(h) for t, h in tiles.items() if len(h) >= 2}

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()], ["doc_id", "text"]
    )
    exp_rw = {}
    for did, toks in docs.items():
        rem = {
            i + 1
            for i in range(len(toks) - k + 1)
            if canon.get(tuple(toks[i : i + k]), did) != did
        }
        text, removed = _brute_excise(toks, rem, k)
        exp_rw[did] = (text, len(toks), removed)
    got_rw = {
        r.id: (r.text, r.n_tokens, r.removed_tokens)
        for r in substring_dedup_rewrite(df, "doc_id", "text", k=k).collect()
    }
    assert got_rw == exp_rw, (k, docs)

    # corpus/batch split: first half is history, rest is the new batch
    split = len(docs) // 2
    corpus_ids = {d for d in docs if d <= split}
    index = {
        tuple(toks[i : i + k])
        for did in corpus_ids
        for toks in [docs[did]]
        for i in range(len(toks) - k + 1)
    }
    exp_led, exp_inc = {}, {}
    for did, toks in docs.items():
        if did in corpus_ids:
            continue
        hits = {
            i + 1
            for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) in index
        }
        text, removed = _brute_excise(toks, hits, k)
        n = len(toks)
        exp_led[did] = (n, removed, n - removed, 10000 * removed // max(n, 1))
        exp_inc[did] = (text, n, removed)
    corpus_df = df.where(f"doc_id <= {split}")
    batch_df = df.where(f"doc_id > {split}")
    got_led = {
        r.id: (r.n_tokens, r.removed_tokens, r.kept_tokens, r.removed_bp)
        for r in incremental_substring_dedup(
            corpus_df, batch_df, "doc_id", "text", k=k
        ).collect()
    }
    assert got_led == exp_led, (k, docs, split)
    got_inc = {
        r.id: (r.text, r.n_tokens, r.removed_tokens)
        for r in incremental_substring_rewrite(
            corpus_df, batch_df, "doc_id", "text", k=k
        ).collect()
    }
    assert got_inc == exp_inc, (k, docs, split)


def _half_up(y: float) -> int:
    """Spark round(): HALF_UP (away from zero) on doubles."""
    return math.floor(y + 0.5) if y >= 0 else -math.floor(-y + 0.5)


def _ref_smooth(cnts: dict) -> dict:
    """piece -> cnt  =>  piece -> (cnt, micro-nat cost), the add-half
    formula in the exact double order both engines evaluate."""
    total, nv = sum(cnts.values()), len(cnts)
    return {
        p: (c, int(-_half_up(math.log((2 * c + 1) / (2 * total + nv)) * 1e6)))
        for p, c in cnts.items()
    }


def _ref_segmentations(word: str, pieces, max_len: int = 4):
    """EVERY segmentation of ``word`` into vocabulary pieces (exhaustive —
    the mirror's whole point: no DP to share bugs with)."""
    if word == "":
        yield []
        return
    for ln in range(1, min(max_len, len(word)) + 1):
        head = word[:ln]
        if head in pieces:
            for rest in _ref_segmentations(word[ln:], pieces, max_len):
                yield [head] + rest


def _ref_best(word: str, vocab: dict):
    """(cost, 'p1 p2 ...') minimal by (cost, joined string) — the engine's
    compositional tiebreak stated globally."""
    best = None
    for seg in _ref_segmentations(word, vocab):
        cand = (sum(vocab[p][1] for p in seg), " ".join(seg))
        if best is None or cand < best:
            best = cand
    return best


def _ref_unigram_train(words: dict, n_seed_multi, target_multi, n_prune_rounds, floor):
    """Sequential mirror of operators/unigram_lm.py::unigram_train —
    exhaustive-enumeration Viterbi, dict arithmetic, Python sorts."""
    words = {w: c for w, c in words.items() if 1 <= len(w) <= 16}
    seed: dict = {}
    for w, c in words.items():
        for j in range(len(w)):
            for i in range(j + 1, min(j + 4, len(w)) + 1):
                seed[w[j:i]] = seed.get(w[j:i], 0) + c
    singles = {p: c for p, c in seed.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in seed.items() if len(p) > 1 and c >= floor),
        key=lambda t: (-t[1], t[0]),
    )[:n_seed_multi]
    vocab = _ref_smooth({**singles, **dict(multis)})

    def estep(vocab):
        cnts = {p: 0 for p in vocab}
        for w, c in words.items():
            for p in _ref_best(w, vocab)[1].split(" "):
                cnts[p] += c
        return _ref_smooth(cnts)

    for _ in range(n_prune_rounds):
        full = estep(vocab)
        losses = []
        for p, (c, cost) in full.items():
            if len(p) == 1:
                continue
            alt = min(
                sum(full[q][1] for q in seg)
                for seg in _ref_segmentations(p, full)
                if seg != [p]
            )
            losses.append((p, c, c * (alt - cost)))
        k = max(target_multi, (3 * len(losses) + 3) // 4)
        keep = sorted(losses, key=lambda t: (-t[2], t[0]))[:k]
        vocab = _ref_smooth(
            {
                **{p: c for p, (c, _) in full.items() if len(p) == 1},
                **{p: c for p, c, _ in keep},
            }
        )
    return estep(vocab)


@st.composite
def unigram_dictionaries(draw):
    words = draw(
        st.lists(
            st.tuples(
                st.text(alphabet="ab", min_size=1, max_size=8),
                st.integers(min_value=1, max_value=9),
            ),
            min_size=1,
            max_size=8,
            unique_by=lambda t: t[0],
        )
    )
    cfg = dict(
        n_seed_multi=6,
        target_multi=draw(st.integers(2, 3)),
        n_prune_rounds=draw(st.integers(1, 2)),
        seed_count_floor=draw(st.integers(1, 2)),
    )
    return dict(words), cfg


@settings(
    max_examples=_ex(12),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=unigram_dictionaries())
def test_fuzz_unigram_prune_em_vs_sequential(spark, case):
    """The FULL prune-EM loop (seed floor+cap, Viterbi E-step, recount,
    removal-loss ranking with the self-excluding alt segmentation, the
    integer keep schedule, final EM) over hypothesis dictionaries must
    equal the sequential exhaustive-enumeration mirror exactly: same
    pieces, same counts, same micro-nat costs."""
    from map_reduce_engine_spark.operators import unigram_lm

    words, cfg = case
    expected = _ref_unigram_train(words, **{
        "n_seed_multi": cfg["n_seed_multi"],
        "target_multi": cfg["target_multi"],
        "n_prune_rounds": cfg["n_prune_rounds"],
        "floor": cfg["seed_count_floor"],
    })
    df = spark.createDataFrame(list(words.items()), ["word", "wcnt"])
    got = {
        r.piece: (r.cnt, r.cost)
        for r in unigram_lm.unigram_train(df, **cfg).collect()
    }
    assert got == expected, (words, cfg)


@settings(
    max_examples=_ex(10),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=unigram_dictionaries())
def test_fuzz_unigram_nbest_vs_exhaustive(spark, case):
    """The k-best squaring enumeration (subword regularization's base)
    over hypothesis dictionaries must equal the exhaustive top-2: for
    every word, ALL segmentations under the trained vocab are enumerated
    directly, sorted by (cost, joined string), and the first two must
    match nbest_paths rank-for-rank, cost-for-cost, path-for-path."""
    from map_reduce_engine_spark.operators import unigram_lm

    words, cfg = case
    df = spark.createDataFrame(list(words.items()), ["word", "wcnt"])
    vocab_df = unigram_lm.unigram_train(df, **cfg)
    vocab = {r.piece: (r.cnt, r.cost) for r in vocab_df.collect()}
    got: dict = {}
    for r in unigram_lm.nbest_paths(unigram_lm.trainable_words(df), vocab_df, k=2).collect():
        got.setdefault(r.word, {})[r.rank] = (r.cost, r.path)
    for w in words:
        if not (1 <= len(w) <= 16):
            continue
        segs = sorted(
            (sum(vocab[p][1] for p in seg), " ".join(seg))
            for seg in _ref_segmentations(w, vocab)
        )
        exp = {i + 1: s for i, s in enumerate(segs[:2])}
        assert got.get(w, {}) == exp, (w, got.get(w), exp)


@st.composite
def sampled_draw_cases(draw):
    """Synthetic 2-best lists: unique words over a wide alphabet (the md5
    draw sweeps its full range), c1 <= c2 micro-nat costs spanning sigmoid
    inputs from 0 to far saturation, a single-rank minority, and a salt."""
    n = draw(st.integers(3, 10))
    words = draw(
        st.lists(
            st.text(alphabet="abcdefgxyz0", min_size=1, max_size=10),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    rows = []
    for i, w in enumerate(words):
        c1 = draw(st.integers(0, 40_000_000))
        rows.append((w, i + 1, 1, c1, f"{w} p1"))
        if draw(st.integers(0, 3)) > 0:  # ~3/4 of words have a rank 2
            c2 = c1 + draw(st.integers(0, 30_000_000))
            rows.append((w, i + 1, 2, c2, f"{w} p2"))
    return rows, draw(st.integers(0, 5))


def _py_base31(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) & 0x7FFFFFFF


@settings(
    max_examples=_ex(24),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=sampled_draw_cases())
def test_fuzz_sampled_draw_vs_python_mirror(spark, case):
    """The regularization draw's full output — p1_micro (the repo's one
    transcendental feeding a BRANCH, the adjudicated exp() hazard),
    draw_micro (salted portable hash), sampled_rank, and the chosen
    (cost, path) — against a pure-Python mirror: math.exp + sign-aware
    HALF_UP replays the engine's sigmoid freeze exactly over the whole
    (c2-c1) range, and the salt prefixes the hash precisely as documented
    (salt 0 = bare word)."""
    from map_reduce_engine_spark.operators import unigram_lm

    rows, salt = case
    nb = spark.createDataFrame(rows, ["word", "wcnt", "rank", "cost", "path"])
    got = {
        r.word: (r.p1_micro, r.draw_micro, r.sampled_rank, r.cost, r.path)
        for r in unigram_lm.sampled_segmentations(nb, salt=salt).collect()
    }
    by_word: dict = {}
    for w, wc, rank, cost, path in rows:
        by_word.setdefault(w, {})[rank] = (cost, path)
    assert set(got) == set(by_word)
    for w, ranked in by_word.items():
        c1, path1 = ranked[1]
        if 2 in ranked:
            c2, _ = ranked[2]
            p1 = _half_up(1_000_000 / (1 + math.exp(-0.5 * (c2 - c1) / 1_000_000)))
        else:
            p1 = 1_000_000
        key = w if salt == 0 else f"{salt}:{w}"
        dm = (1_000_000 * _py_base31(key)) // 2_147_483_648
        srank = 2 if (2 in ranked and dm >= p1) else 1
        assert got[w] == (p1, dm, srank, *ranked[srank]), (w, salt, got[w])


# -------------------------------------------- stored-token-table verify


@st.composite
def verify_cases(draw):
    """(hist docs, batch docs, candidate pairs, threshold): small corpora
    over a 12-token vocabulary (overlaps are common by construction) and
    an ARBITRARY candidate set — the verify must be correct for whatever
    pair list the banding stage hands it, not just band-generated ones."""
    vocab = [f"w{i}" for i in range(12)]
    toklist = st.lists(st.sampled_from(vocab), min_size=2, max_size=14)
    hist = draw(st.lists(toklist, min_size=2, max_size=6))
    batch = draw(st.lists(toklist, min_size=1, max_size=5))
    hist_ids = list(range(1, len(hist) + 1))
    batch_ids = list(range(101, 101 + len(batch)))
    all_pairs = [(b, h) for b in batch_ids for h in hist_ids]
    cands = draw(
        st.lists(st.sampled_from(all_pairs), min_size=1, unique=True)
        if all_pairs
        else st.just([])
    )
    threshold = draw(st.sampled_from([0.1, 0.3, 0.5, 0.8]))
    return hist, batch, cands, threshold


@settings(
    max_examples=_ex(10),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=verify_cases())
def test_fuzz_jaccard_verify_stored_toks_vs_inline_and_mirror(spark, case):
    """The round-10 batch-scaled verify (jaccard_pairs with hist_toks_df):
    probing through a stored (id, toks) table must equal (a) the inline
    both-sides form EXACTLY — same rows, same rounded values — and (b) a
    Fraction-arithmetic Python mirror of set-Jaccard over the candidate
    pairs, for every hypothesis corpus and every arbitrary candidate set."""
    from fractions import Fraction

    from map_reduce_engine_spark.operators.dedup import (
        build_token_table,
        jaccard_pairs,
    )

    hist, batch, cands, threshold = case
    hist_rows = [(i + 1, " ".join(toks)) for i, toks in enumerate(hist)]
    batch_rows = [(101 + i, " ".join(toks)) for i, toks in enumerate(batch)]
    hist_df = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    batch_df = spark.createDataFrame(batch_rows, ["id", "text"])
    cands_df = spark.createDataFrame(cands, ["id1", "id2"])
    toks_tbl = build_token_table(hist_df, "doc_id", "text")

    via_stored = sorted(
        map(
            tuple,
            jaccard_pairs(
                batch_df, "id", "text", min_jaccard=threshold,
                candidates=cands_df, hist_toks_df=toks_tbl,
            ).collect(),
        )
    )
    both = batch_df.unionByName(
        hist_df.selectExpr("doc_id AS id", "text")
    )
    inline = sorted(
        map(
            tuple,
            jaccard_pairs(
                both, "id", "text", min_jaccard=threshold, candidates=cands_df
            ).collect(),
        )
    )
    assert via_stored == inline, (case,)

    # Python mirror: exact set-Jaccard as a Fraction per candidate pair
    hset = {i + 1: set(toks) for i, toks in enumerate(hist)}
    bset = {101 + i: set(toks) for i, toks in enumerate(batch)}
    expected = {}
    for id1, id2 in cands:
        a, b = bset[id1], hset[id2]
        j = Fraction(len(a & b), len(a | b))
        if j >= Fraction(threshold).limit_denominator(10):
            expected[(id1, id2)] = j
    assert {(r[0], r[1]) for r in via_stored} == set(expected), (case,)
    for id1, id2, val in via_stored:
        assert abs(val - float(expected[(id1, id2)])) < 5e-7, (case, id1, id2)
