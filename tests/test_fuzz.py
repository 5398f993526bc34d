"""Differential query fuzzing: random plans from a small grammar, executed
on BOTH engines (SURVEY §5.2's adversarial face).

The fixed catalog oracles pin 226 hand-written queries; this fuzzer pins
the COMPOSITION RULES — any filter x group-key x aggregate drawn from the
grammar must agree between the Spark DataFrame chain and the equivalent
DuckDB SQL. Each generated case renders to both forms from one AST, so a
disagreement is an engine-semantics bug (null handling, type widening,
float summation), not a transcription gap.

Derandomized (fixed seed) like the rest of the property suite: a failing
case replays identically in CI and in the driver's environment.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# --- tiny query grammar over the orders table ------------------------------

NUM_COLS = ["o_totalprice", "o_custkey"]
KEY_COLS = ["o_orderstatus", "o_orderpriority"]

FILTERS = [
    # (duckdb / spark-SQL shared predicate text) — kept to ANSI both parse
    "o_totalprice > {t}",
    "o_totalprice <= {t}",
    "o_custkey % 7 = {m}",
    "o_orderkey % 13 <> {m}",
    "o_orderpriority IN ('1-URGENT', '2-HIGH')",
    "o_orderstatus = 'F' OR o_totalprice > {t}",
]

# Float aggregates stay UNROUNDED here: the compare harness is
# tolerance-aware (isclose rel 1e-9), and rounding would re-introduce the
# one failure mode the fuzzer is not hunting — a true value landing
# exactly on a .xxxx5 boundary, where ±1e-11 of summation-order noise
# legally flips the 4th decimal between engines (observed once in a
# 400-case exploratory sweep; the catalog's fixed fixtures are verified
# clear of it).
AGGS = [
    ("CAST(count(*) AS BIGINT)", "n"),
    ("sum(o_totalprice)", "s"),
    ("avg(o_totalprice)", "a"),
    ("CAST(min(o_orderkey) AS BIGINT)", "mn"),
    ("CAST(max(o_orderkey) AS BIGINT)", "mx"),
    ("CAST(count(DISTINCT o_custkey) AS BIGINT)", "nd"),
]

CASES = st.fixed_dictionaries(
    {
        "filters": st.lists(
            st.sampled_from(FILTERS), min_size=0, max_size=2, unique=True
        ),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "key": st.sampled_from(KEY_COLS + ["__none__"]),
        "aggs": st.lists(
            st.sampled_from(AGGS),
            min_size=1,
            max_size=4,
            unique_by=lambda a: a[1],
        ),
    }
)


def render_sql(case: dict) -> str:
    where = " AND ".join(
        "(" + f.format(t=case["t"], m=case["m"]) + ")" for f in case["filters"]
    )
    sel = ", ".join(f"{expr} AS {alias}" for expr, alias in case["aggs"])
    key = case["key"]
    sql = "SELECT "
    if key != "__none__":
        sql += f"{key}, "
    sql += sel + " FROM orders"
    if where:
        sql += f" WHERE {where}"
    if key != "__none__":
        sql += f" GROUP BY {key} ORDER BY {key}"
    return sql


FUZZ_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
# Grammars 1-18 have been stable for 1-2+ rounds and each has 150-300
# fresh-seed sweeps on record (the r8 sweep additionally searched
# grammars 10-16 with non-derandomized seeds; 15-16 were fresh-swept
# at BOTH sf0.01 and sf0.1 in r10, and 17-18 at both SFs in r11,
# before joining the floor) — the
# in-suite derandomized cases are only a regression floor, so 6 keeps
# the floor while holding the suite wall near the ~15 min budget (r7
# verdict task 7). New or recently-changed grammars keep the full 25.
FUZZ_SETTINGS_STABLE = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
# For grammars whose PER-CASE cost is an order of magnitude above the
# rest (grammar 21's funnel runs ~6 s of multi-stage Spark per case):
# 12 derandomized cases keeps the floor at 2x the stable budget while
# holding the suite wall; the searched depth lives in the fresh-seed
# sweep (60 cases clean at sf0.01 in its first round).
FUZZ_SETTINGS_HEAVY = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)


@FUZZ_SETTINGS_STABLE
@given(case=CASES)
def test_random_agg_plans_agree(spark, duck, sf_dir, case):
    import pandas as pd

    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    sql = render_sql(case)
    # The same ANSI text drives both engines: Spark parses it through
    # Catalyst (the q1 SQL entry point), DuckDB through its own planner —
    # one AST, two engines, zero transcription gap.
    got: pd.DataFrame = spark.sql(sql).toPandas()
    want: pd.DataFrame = duck.execute(sql).df()
    assert_frames_match(got, want, f"fuzz[{sql}]")


JOIN_CASES = st.fixed_dictionaries(
    {
        "jtype": st.sampled_from(["JOIN", "LEFT JOIN"]),
        "filters": st.lists(
            st.sampled_from(FILTERS), min_size=0, max_size=1, unique=True
        ),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "key": st.sampled_from(["c_mktsegment", "o_orderstatus"]),
        "aggs": st.lists(
            st.sampled_from(AGGS), min_size=1, max_size=3,
            unique_by=lambda a: a[1],
        ),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=JOIN_CASES)
def test_random_join_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    where = " AND ".join(
        "(" + f.format(t=case["t"], m=case["m"]) + ")" for f in case["filters"]
    )
    sel = ", ".join(f"{expr} AS {alias}" for expr, alias in case["aggs"])
    sql = (
        f"SELECT {case['key']}, {sel} "
        f"FROM customer c {case['jtype']} orders o ON c.c_custkey = o.o_custkey"
    )
    if where:
        sql += f" WHERE {where}"
    sql += f" GROUP BY {case['key']} ORDER BY {case['key']}"
    assert_frames_match(
        spark.sql(sql).toPandas(), duck.execute(sql).df(), f"fuzz[{sql}]"
    )


WINDOW_CASES = st.fixed_dictionaries(
    {
        "fn": st.sampled_from(
            ["row_number()", "rank()", "dense_rank()",
             "lag(o_orderkey, 1)", "lead(o_orderkey, 1)",
             "ntile(4)", "first_value(o_orderkey)",
             # framed running aggregates (frames are illegal on
             # lag/lead in Spark — offset fns stay frameless)
             "count(*) __FRAME__", "sum(o_custkey) __FRAME__"]
        ),
        "part": st.sampled_from(KEY_COLS),
        "t": st.integers(min_value=1000, max_value=400000),
        "desc": st.booleans(),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=WINDOW_CASES)
def test_random_window_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    direction = "DESC" if case["desc"] else "ASC"
    fn = case["fn"]
    frame = ""
    if fn.endswith(" __FRAME__"):
        fn = fn[: -len(" __FRAME__")]
        frame = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    # (o_orderdate, o_orderkey) is a total order: every window result is
    # deterministic, so the frames must agree row-for-row.
    sql = (
        f"SELECT o_orderkey, {fn} OVER ("
        f"PARTITION BY {case['part']} "
        f"ORDER BY o_orderdate {direction}, o_orderkey {direction}{frame}) AS w "
        f"FROM orders WHERE o_totalprice > {case['t']} "
        f"ORDER BY o_orderkey"
    )
    assert_frames_match(
        spark.sql(sql).toPandas(), duck.execute(sql).df(), f"fuzz[{sql}]"
    )


SETOP_CASES = st.fixed_dictionaries(
    {
        "op": st.sampled_from(
            ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
             "EXCEPT", "EXCEPT ALL"]
        ),
        "fa": st.sampled_from(FILTERS),
        "fb": st.sampled_from(FILTERS),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "proj": st.sampled_from(
            ["o_custkey", "o_orderstatus", "o_custkey % 10"]
        ),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=SETOP_CASES)
def test_random_setop_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    fa = case["fa"].format(t=case["t"], m=case["m"])
    fb = case["fb"].format(t=case["t"], m=case["m"])
    # Summarize to one row so multiset cardinality is what's compared —
    # the property each ALL/DISTINCT variant must get right.
    sql = (
        f"SELECT CAST(count(*) AS BIGINT) AS n, "
        f"CAST(count(DISTINCT k) AS BIGINT) AS nd FROM ("
        f"SELECT {case['proj']} AS k FROM orders WHERE {fa} "
        f"{case['op']} "
        f"SELECT {case['proj']} AS k FROM orders WHERE {fb})"
    )
    assert_frames_match(
        spark.sql(sql).toPandas(), duck.execute(sql).df(), f"fuzz[{sql}]"
    )


SUBQ_CASES = st.fixed_dictionaries(
    {
        # EXISTS / IN, plain and negated: four distinct decorrelation
        # paths in Catalyst (semi, anti, null-aware semi, null-aware
        # anti) — the null-aware NOT IN is historically the buggiest.
        # l_orderkey/o_orderkey are non-null here, so NOT IN keeps
        # set-complement semantics on both engines.
        "form": st.sampled_from(
            ["EXISTS", "NOT EXISTS", "IN", "NOT IN"]
        ),
        "q": st.integers(min_value=1, max_value=50),
        "filters": st.lists(
            st.sampled_from(FILTERS), min_size=0, max_size=1, unique=True
        ),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "key": st.sampled_from(KEY_COLS),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=SUBQ_CASES)
def test_random_subquery_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    if case["form"] in ("EXISTS", "NOT EXISTS"):
        pred = (
            f"{case['form']} (SELECT 1 FROM lineitem l "
            f"WHERE l.l_orderkey = o.o_orderkey "
            f"AND l.l_quantity > {case['q']})"
        )
    else:
        pred = (
            f"o.o_orderkey {case['form']} (SELECT l_orderkey FROM lineitem "
            f"WHERE l_quantity > {case['q']})"
        )
    extra = " AND ".join(
        "(" + f.format(t=case["t"], m=case["m"]) + ")"
        for f in case["filters"]
    )
    sql = (
        f"SELECT {case['key']}, CAST(count(*) AS BIGINT) AS n, "
        f"CAST(min(o.o_orderkey) AS BIGINT) AS mn "
        f"FROM orders o WHERE {pred}"
    )
    if extra:
        sql += f" AND {extra}"
    sql += f" GROUP BY {case['key']} ORDER BY {case['key']}"
    assert_frames_match(
        spark.sql(sql).toPandas(), duck.execute(sql).df(), f"fuzz[{sql}]"
    )


GROUPING_CASES = st.fixed_dictionaries(
    {
        # ROLLUP/CUBE/explicit GROUPING SETS over 1-2 keys: every variant
        # compiles to the Expand operator with a different set lattice;
        # GROUPING() disambiguates real NULLs from subtotal rows so the
        # compare can't conflate them.
        "form": st.sampled_from(
            ["ROLLUP (k1)", "ROLLUP (k1, k2)", "CUBE (k1, k2)",
             "GROUPING SETS ((k1), (k2))",
             "GROUPING SETS ((k1, k2), (k1), ())"]
        ),
        "k1": st.sampled_from(KEY_COLS),
        "k2": st.sampled_from(["o_orderstatus", "o_orderdate"]),
        "filters": st.lists(
            st.sampled_from(FILTERS), min_size=0, max_size=1, unique=True
        ),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "aggs": st.lists(
            st.sampled_from(AGGS), min_size=1, max_size=2,
            unique_by=lambda a: a[1],
        ),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=GROUPING_CASES)
def test_random_grouping_set_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    k1, k2 = case["k1"], case["k2"]
    if k1 == k2:
        k2 = "o_orderpriority" if k1 != "o_orderpriority" else "o_orderstatus"
    form = case["form"].replace("k1", k1).replace("k2", k2)
    keys = [k1] + ([k2] if "k2" in case["form"] else [])
    where = " AND ".join(
        "(" + f.format(t=case["t"], m=case["m"]) + ")"
        for f in case["filters"]
    )
    sel = ", ".join(f"{expr} AS {alias}" for expr, alias in case["aggs"])
    gsel = ", ".join(
        [f"CAST({k} AS STRING) AS {k}_s" for k in keys]
        + [f"CAST(GROUPING({k}) AS BIGINT) AS g_{k}" for k in keys]
    )
    sql = f"SELECT {gsel}, {sel} FROM orders"
    if where:
        sql += f" WHERE {where}"
    sql += (
        f" GROUP BY {form} ORDER BY "
        + ", ".join(f"g_{k}, {k}_s NULLS FIRST" for k in keys)
    )
    got = spark.sql(sql).toPandas()
    want = duck.execute(sql).df()
    n_in = duck.execute(
        "SELECT count(*) FROM orders" + (f" WHERE {where}" if where else "")
    ).fetchone()[0]
    if n_in == 0:
        # Documented engine DIVERGENCE, found by this fuzzer: on an
        # EMPTY input, the standard (and DuckDB/PostgreSQL) still emit
        # one row per empty grouping set () — the grand total, count=0
        # — while Spark emits no rows at all for every grouping-sets
        # form. Pin both behaviors instead of comparing them; a5's
        # empty-guard covers the plain global-aggregate case where the
        # engines DO agree.
        n_empty_sets = 1 if ("ROLLUP" in form or "CUBE" in form
                             or "()" in form) else 0
        assert len(got) == 0, f"fuzz[{sql}]: Spark now emits rows on empty"
        assert len(want) == n_empty_sets, (
            f"fuzz[{sql}]: DuckDB grand-total row count changed"
        )
        return
    assert_frames_match(got, want, f"fuzz[{sql}]")


RANGE_FRAME_CASES = st.fixed_dictionaries(
    {
        # Value-based (RANGE) frames: the peer-group semantics ROWS
        # frames don't have — all rows within +/- the offset of the
        # CURRENT ROW'S value share the frame, ties included, so the
        # result is deterministic even on non-unique order keys.
        "agg": st.sampled_from(
            ["CAST(count(*) OVER w AS BIGINT)", "sum(o_custkey) OVER w",
             "CAST(min(o_orderkey) OVER w AS BIGINT)",
             "CAST(max(o_orderkey) OVER w AS BIGINT)"]
        ),
        "lo": st.sampled_from([1000, 5000, 20000, 100000]),
        "hi": st.sampled_from([0, 1000, 10000]),
        "part": st.sampled_from(KEY_COLS),
        "t": st.integers(min_value=1000, max_value=400000),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=RANGE_FRAME_CASES)
def test_random_range_frame_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    sql = (
        f"SELECT o_orderkey, {case['agg']} AS v "
        f"FROM orders WHERE o_totalprice > {case['t']} "
        f"WINDOW w AS (PARTITION BY {case['part']} ORDER BY o_totalprice "
        f"RANGE BETWEEN {case['lo']} PRECEDING AND {case['hi']} FOLLOWING) "
        f"ORDER BY o_orderkey"
    )
    assert_frames_match(
        spark.sql(sql).toPandas(), duck.execute(sql).df(), f"fuzz[{sql}]"
    )


# --- VARIANT structural-typing grammar (f28's subtle core) ------------------
# f28's silver gate depends on schema_of_variant agreeing with DuckDB's
# json_type about what KIND of JSON value sits at a path. This grammar
# generates random payloads (nested dicts/lists/scalars, JSON-rendered
# once and fed verbatim to both engines) and pins the taxonomy mapping:
#   Spark BIGINT                -> int    <- DuckDB UBIGINT/BIGINT
#   Spark DECIMAL(p,s)/DOUBLE   -> float  <- DuckDB DOUBLE
#   Spark STRING/BOOLEAN        -> ...    (direct)
#   Spark VOID / SQL NULL       -> null / missing (json null vs absent key)
#   Spark ARRAY<...>/OBJECT<...> -> array/object (DuckDB bare ARRAY/OBJECT)
# Spark parses non-exponent decimals as DECIMAL and exponent forms as
# DOUBLE while DuckDB calls both DOUBLE — both are "float" to a
# structural gate, which is exactly the kind of cross-engine taxonomy
# fact a hand-written oracle can bake in wrong. Ints stay inside int64:
# larger literals legitimately diverge (Spark DECIMAL(20,0) vs DuckDB
# UBIGINT) and a gate that needs them needs a wider contract.

VARIANT_SCALARS = st.one_of(
    st.integers(min_value=-(10**15), max_value=10**15),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(alphabet="abc xyz09_", max_size=8),
    st.booleans(),
    st.none(),
)
VARIANT_VALUES = st.one_of(
    VARIANT_SCALARS,
    st.lists(VARIANT_SCALARS, max_size=3),
    st.dictionaries(
        st.sampled_from(["a", "b"]), VARIANT_SCALARS, max_size=2
    ),
)
VARIANT_CASES = st.dictionaries(
    st.sampled_from(["k", "j"]), VARIANT_VALUES, max_size=2
)


def _cls_spark(t: str | None) -> str:
    if t is None:
        return "missing"
    if t == "VOID":
        return "null"
    if t == "BIGINT":
        return "int"
    if t == "DOUBLE" or t.startswith("DECIMAL"):
        return "float"
    if t == "STRING":
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("ARRAY"):
        return "array"
    if t.startswith("OBJECT"):
        return "object"
    return f"?spark:{t}"


def _cls_duck(t: str | None) -> str:
    if t is None:
        return "missing"
    return {
        "NULL": "null",
        "UBIGINT": "int",
        "BIGINT": "int",
        "DOUBLE": "float",
        "VARCHAR": "string",
        "BOOLEAN": "bool",
        "ARRAY": "array",
        "OBJECT": "object",
    }.get(t, f"?duck:{t}")


@FUZZ_SETTINGS_STABLE
@given(case=VARIANT_CASES)
def test_random_variant_payload_typing_agrees(spark, duck, case):
    import json

    from pyspark.sql import functions as F

    payload = json.dumps(case)
    row = (
        spark.createDataFrame([(payload,)], "p string")
        .select(
            F.expr(
                "schema_of_variant(variant_get(parse_json(p), '$.k'))"
            ).alias("t"),
            F.expr("try_variant_get(parse_json(p), '$.k', 'long')").alias(
                "k_long"
            ),
        )
        .collect()[0]
    )
    duck_t, duck_long = duck.execute(
        "SELECT json_type(?::JSON, '$.k'),"
        " CASE WHEN json_type(?::JSON, '$.k') IN ('UBIGINT', 'BIGINT')"
        " THEN CAST(json_extract(?::JSON, '$.k') AS BIGINT) END",
        [payload, payload, payload],
    ).fetchone()
    got, want = _cls_spark(row["t"]), _cls_duck(duck_t)
    assert got == want, f"{payload}: spark {row['t']} -> {got}, duck {duck_t} -> {want}"
    if want == "int":
        assert row["k_long"] == duck_long, payload


# --- as-of join grammar (custom operator vs native ASOF) --------------------
# j6's asof_join is a CUSTOM operator (union + window carry-forward —
# Spark has no native as-of), so its semantics deserve fuzzing, not just
# one fixture: random (left type, right type, value filters) instances
# must match DuckDB's native ASOF LEFT JOIN row-for-row. The right side
# is deduped to one row per (user_id, ts) in BOTH engines first: at
# equal timestamps both the window carry-forward and native ASOF pick
# an unspecified member, so tie-freedom is part of the operator's
# documented contract, not something the fuzzer papers over.

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

ASOF_CASES = st.fixed_dictionaries(
    {
        "pair": st.sampled_from(
            [(a, b) for a in EVENT_TYPES for b in EVENT_TYPES if a != b]
        ),
        "lmin": st.one_of(st.none(), st.integers(min_value=5, max_value=90)),
        "rmax": st.one_of(st.none(), st.integers(min_value=10, max_value=95)),
    }
)


@FUZZ_SETTINGS_STABLE
@given(case=ASOF_CASES)
def test_random_asof_joins_agree(spark, duck, sf_dir, case):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.operators.joins import asof_join
    from mric_bak_etl_spark.tables import load_table
    from test_oracle_parity import assert_frames_match

    ltype, rtype = case["pair"]
    lpred = f"AND value > {case['lmin']}" if case["lmin"] is not None else ""
    rpred = f"AND value <= {case['rmax']}" if case["rmax"] is not None else ""

    ev = load_table(spark, sf_dir, "events")
    lft = ev.filter(F.col("event_type") == ltype)
    if case["lmin"] is not None:
        lft = lft.filter(F.col("value") > case["lmin"])
    lft = lft.select("user_id", "event_id", "ts")
    r0 = ev.filter(F.col("event_type") == rtype)
    if case["rmax"] is not None:
        r0 = r0.filter(F.col("value") <= case["rmax"])
    rw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    rgt = (
        r0.select("user_id", "event_id", "ts")
        .withColumn("rn", F.row_number().over(rw))
        .filter("rn = 1")
        .drop("rn")
    )
    got = (
        asof_join(
            lft, rgt, key="user_id", left_ts="ts", right_ts="ts",
            right_cols=["event_id", "ts"],
        )
        .orderBy("event_id")
        .toPandas()
    )
    want = duck.execute(
        f"""
        WITH lft AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = '{ltype}' {lpred}
        ),
        r0 AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = '{rtype}' {rpred}
        ),
        rgt AS (
          SELECT user_id, event_id, ts FROM (
            SELECT *, row_number() OVER (
              PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM r0)
          WHERE rn = 1
        )
        SELECT l.user_id, l.event_id, l.ts,
               r.event_id AS right_event_id, r.ts AS right_ts
        FROM lft l ASOF LEFT JOIN rgt r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id
        """
    ).df()
    assert_frames_match(got, want, f"asof[{ltype}->{rtype},{lpred},{rpred}]")


# --- higher-order array-function grammar (f24/f10's compositional core) -----
# Fixed catalog entries pin individual higher-order calls; this grammar
# pins their COMPOSITION: any pipeline of transform/filter/sort/reverse/
# slice over a row-derived array, folded to a scalar, must agree with
# DuckDB's list_* family. The two dialects name every operator
# differently (transform vs list_transform, lambda folds vs list_sum),
# so each case renders BOTH texts from one AST — a disagreement is an
# engine-semantics bug (fold order, empty-array identity, slice
# clamping, sort stability), not a transcription gap. Known-divergent
# identities are normalized in the rendering, which documents them:
# Spark's aggregate() returns its 0.0 init on an empty array while
# DuckDB's list_sum returns NULL (coalesced), and both engines clamp
# out-of-range slice lengths.

_HOF_ITEMS = [
    "CAST(o_totalprice AS DOUBLE)",
    "CAST(o_custkey AS DOUBLE)",
    "CAST(o_orderkey % 1000 AS DOUBLE)",
]

_HOF_OP_RENDER = {
    # op -> (spark_fmt, duck_fmt); {a} = array expr, {p} = parameter
    "add": ("transform({a}, x -> x + {p})",
            "list_transform({a}, x -> x + {p})"),
    "mul": ("transform({a}, x -> x * {p})",
            "list_transform({a}, x -> x * {p})"),
    "filter": ("filter({a}, x -> x > {p})",
               "list_filter({a}, x -> x > {p})"),
    "sort": ("array_sort({a})", "list_sort({a})"),
    "rev": ("reverse({a})", "list_reverse({a})"),
    "slice": ("slice({a}, 1, {p})", "list_slice({a}, 1, {p})"),
}

_HOF_TERMINAL_RENDER = {
    "sum": ("aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
            "coalesce(list_sum({a}), 0.0)"),
    "max": ("array_max({a})", "list_max({a})"),
    "size": ("CAST(size({a}) AS BIGINT)", "CAST(len({a}) AS BIGINT)"),
}

HOF_CASES = st.fixed_dictionaries(
    {
        "ops": st.lists(
            st.one_of(
                st.tuples(st.just("add"), st.integers(1, 50)),
                st.tuples(st.just("mul"), st.sampled_from([2, 3])),
                st.tuples(st.just("filter"),
                          st.sampled_from([10, 100, 1000, 50000])),
                st.tuples(st.just("sort"), st.just(0)),
                st.tuples(st.just("rev"), st.just(0)),
                st.tuples(st.just("slice"), st.integers(1, 3)),
            ),
            min_size=1,
            max_size=3,
        ),
        "terminal": st.sampled_from(["sum", "max", "size"]),
        "m": st.integers(min_value=0, max_value=28),
    }
)


def _hof_expr(ops, terminal, dialect):
    i = 0 if dialect == "spark" else 1
    body = ", ".join(_HOF_ITEMS)
    a = f"array({body})" if dialect == "spark" else f"[{body}]"
    for op, p in ops:
        a = _HOF_OP_RENDER[op][i].format(a=a, p=p)
    return _HOF_TERMINAL_RENDER[terminal][i].format(a=a)


@FUZZ_SETTINGS_STABLE
@given(case=HOF_CASES)
def test_random_higher_order_array_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    ops, terminal, m = case["ops"], case["terminal"], case["m"]
    queries = {
        d: (
            f"SELECT o_orderkey, {_hof_expr(ops, terminal, d)} AS v "
            f"FROM orders WHERE o_orderkey % 29 = {m} ORDER BY o_orderkey"
        )
        for d in ("spark", "duck")
    }
    got = spark.sql(queries["spark"]).toPandas()
    want = duck.execute(queries["duck"]).df()
    assert_frames_match(got, want, f"hof[{ops}->{terminal}]")


# --- datetime-arithmetic grammar (f2/f11/f13's compositional core) ----------
# Datetime semantics are the classic cross-engine minefield (this repo
# already documents DuckDB datediff counting boundary crossings where
# Spark floors day deltas, and week-vs-ISO-week conventions). This
# grammar composes interval shifts (+/- N MINUTE/HOUR/DAY/MONTH,
# including the end-of-month clamping regime) with date_trunc at every
# grain and an extract/render terminal, as ONE ANSI text both engines
# parse. Normalizations the grammar itself documents: the result is
# re-CAST to TIMESTAMP before rendering because DuckDB's date_trunc
# returns DATE for day-and-coarser units while Spark always returns
# TIMESTAMP (same instant, different type), and extract is CAST to
# BIGINT (Spark INT vs DuckDB BIGINT/HUGEINT widths).

DT_TRUNC_UNITS = ["year", "quarter", "month", "week", "day", "hour",
                  "minute"]
DT_EXTRACT_FIELDS = ["year", "quarter", "month", "day", "hour", "minute"]

DT_CASES = st.fixed_dictionaries(
    {
        "shifts": st.lists(
            st.tuples(
                st.sampled_from(["MINUTE", "HOUR", "DAY", "MONTH"]),
                st.integers(min_value=1, max_value=500),
                st.sampled_from(["+", "-"]),
            ),
            min_size=0,
            max_size=2,
        ),
        "trunc": st.one_of(st.none(), st.sampled_from(DT_TRUNC_UNITS)),
        "terminal": st.sampled_from(["render"] + DT_EXTRACT_FIELDS),
        "m": st.integers(min_value=0, max_value=96),
    }
)


def _dt_expr(shifts, trunc, terminal):
    e = "CAST(ts AS TIMESTAMP)"
    for unit, n, sign in shifts:
        e = f"({e} {sign} INTERVAL {n} {unit})"
    if trunc is not None:
        e = f"date_trunc('{trunc}', {e})"
    if terminal == "render":
        return f"CAST(CAST({e} AS TIMESTAMP) AS STRING)"
    return f"CAST(extract({terminal} FROM {e}) AS BIGINT)"


@FUZZ_SETTINGS_STABLE
@given(case=DT_CASES)
def test_random_datetime_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    expr = _dt_expr(case["shifts"], case["trunc"], case["terminal"])
    sql = (
        f"SELECT event_id, {expr} AS v FROM events "
        f"WHERE event_id % 97 = {case['m']} ORDER BY event_id"
    )
    got = spark.sql(sql).toPandas()
    want = duck.execute(sql).df()
    assert_frames_match(got, want, f"dt[{sql[:120]}]")


# --- string-function grammar (f1/f8's compositional core) -------------------
# Compositions of the shared ANSI string family over REAL document text
# (not literals — the corpus carries lengths, repeats and whitespace a
# literal grammar wouldn't), one text through both engines. The edge
# regimes the sampler deliberately reaches: substr length 0 and
# past-end, lpad/rpad TRUNCATING when the target is shorter than the
# input, left/right with 0, replace-after-case-fold, split_part on a
# separator that may not occur. Anything locale-sensitive (collation,
# unicode case folding beyond ASCII) stays in f23's fixed tests — the
# corpus is ASCII by construction.

_STR_OP_POOL = st.one_of(
    st.tuples(st.just("upper"), st.just(0)),
    st.tuples(st.just("lower"), st.just(0)),
    st.tuples(st.just("trim"), st.just(0)),
    st.tuples(st.just("reverse"), st.just(0)),
    st.tuples(st.just("substr"), st.tuples(st.integers(1, 30),
                                           st.integers(0, 60))),
    st.tuples(st.just("left"), st.integers(0, 40)),
    st.tuples(st.just("right"), st.integers(0, 40)),
    st.tuples(st.just("lpad"), st.integers(0, 50)),
    st.tuples(st.just("rpad"), st.integers(0, 50)),
    st.tuples(st.just("replace"), st.sampled_from(["e", "a", "th", " "])),
)

STR_CASES = st.fixed_dictionaries(
    {
        "ops": st.lists(_STR_OP_POOL, min_size=1, max_size=3),
        "terminal": st.sampled_from(["render", "length"]),
        "m": st.integers(min_value=0, max_value=6),
    }
)


def _str_expr(ops, terminal):
    e = "text"
    for op, p in ops:
        if op in ("upper", "lower", "trim", "reverse"):
            e = f"{op}({e})"
        elif op == "substr":
            e = f"substr({e}, {p[0]}, {p[1]})"
        elif op in ("left", "right"):
            e = f"{op}({e}, {p})"
        elif op in ("lpad", "rpad"):
            e = f"{op}({e}, {p}, '#')"
        elif op == "replace":
            e = f"replace({e}, '{p}', '@')"
    if terminal == "length":
        return f"CAST(length({e}) AS BIGINT)"
    return e


@FUZZ_SETTINGS_STABLE
@given(case=STR_CASES)
def test_random_string_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    expr = _str_expr(case["ops"], case["terminal"])
    sql = (
        f"SELECT doc_id, {expr} AS v FROM documents "
        f"WHERE doc_id % 7 = {case['m']} ORDER BY doc_id"
    )
    got = spark.sql(sql).toPandas()
    want = duck.execute(sql).df()
    assert_frames_match(got, want, f"str[{sql[:120]}]")


# --- exact-arithmetic statistics grammar (a26/e13's compositional core) -----
# The portable-stats recipe: measures become EXACT integers (cents in
# DECIMAL(38,0) on Spark, HUGEINT on DuckDB — the one dialect token that
# differs), power sums accumulate exactly (no float summation order),
# and every derived statistic is ONE shared double-formula string both
# engines evaluate over the double-cast sums. The grammar composes
# random measure x filter x group-key x degree x statistic pulls and
# demands bit-level agreement (no rounding, no tolerance slack needed:
# identical IEEE expressions over identical inputs). Degenerate groups
# (var = 0 from single-row or all-equal groups) are guarded with the
# same CASE convention on both sides — pinning the guard IS part of
# the recipe.

_XS_MEASURES = [
    "round(o_totalprice * 100)",
    "o_custkey",
    "o_orderkey % 1000",
]
_XS_VAR = "(s2 / n - (s1 / n) * (s1 / n))"
_XS_STATS = {
    # name -> (min degree, formula over double-cast n, s1..s4)
    "mean": (1, "s1 / n"),
    "var": (2, _XS_VAR),
    "std": (2, f"CASE WHEN {_XS_VAR} > 0 THEN sqrt({_XS_VAR}) ELSE 0 END"),
    "cv": (
        2,
        f"CASE WHEN {_XS_VAR} > 0 AND s1 <> 0 "
        f"THEN sqrt({_XS_VAR}) / (s1 / n) ELSE NULL END",
    ),
    "skew": (
        3,
        f"CASE WHEN {_XS_VAR} > 0 THEN "
        "(s3 / n - 3 * (s1 / n) * (s2 / n)"
        " + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
        f" / ({_XS_VAR} * sqrt({_XS_VAR})) ELSE NULL END",
    ),
    "kurt": (
        4,
        f"CASE WHEN {_XS_VAR} > 0 THEN "
        "(s4 / n - 4 * (s1 / n) * (s3 / n)"
        " + 6 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
        f" / ({_XS_VAR} * {_XS_VAR}) - 3 ELSE NULL END",
    ),
}

XSTAT_CASES = st.fixed_dictionaries(
    {
        "measure": st.sampled_from(_XS_MEASURES),
        "degree": st.integers(min_value=2, max_value=4),
        "filters": st.lists(
            st.sampled_from(FILTERS), min_size=0, max_size=2, unique=True
        ),
        "t": st.integers(min_value=1000, max_value=400000),
        "m": st.integers(min_value=0, max_value=6),
        "key": st.sampled_from(KEY_COLS + ["__none__"]),
        "stats": st.lists(
            st.sampled_from(sorted(_XS_STATS)), min_size=1, max_size=4,
            unique=True,
        ),
    }
)


def render_xstat_sql(case: dict, exact_type: str) -> str:
    degree = case["degree"]
    stats = [
        s for s in case["stats"] if _XS_STATS[s][0] <= degree
    ] or ["mean"]
    where = " AND ".join(
        "(" + f.format(t=case["t"], m=case["m"]) + ")"
        for f in case["filters"]
    )
    key = case["key"]
    key_sel = f"{key}, " if key != "__none__" else ""
    sums = ["count(*) AS n", "sum(c) AS s1"]
    for d in range(2, degree + 1):
        sums.append(f"sum({' * '.join(['c'] * d)}) AS s{d}")
    casts = ", ".join(
        f"CAST({a.split(' AS ')[1]} AS DOUBLE) AS {a.split(' AS ')[1]}"
        for a in sums
    )
    sel = ", ".join(f"{_XS_STATS[s][1]} AS {s}" for s in stats)
    sql = (
        f"WITH ex AS (SELECT {key_sel}"
        f"CAST({case['measure']} AS {exact_type}) AS c FROM orders"
        + (f" WHERE {where}" if where else "")
        + f"), sums AS (SELECT {key_sel}{', '.join(sums)} FROM ex"
        + (f" GROUP BY {key}" if key != "__none__" else "")
        + f"), d AS (SELECT {key_sel}{casts} FROM sums)"
        + f" SELECT {key_sel}{sel} FROM d"
        + (f" ORDER BY {key}" if key != "__none__" else "")
    )
    return sql


@FUZZ_SETTINGS_STABLE  # stable r6-r9; fresh-swept at sf0.01 AND sf0.1 (r9)
@given(case=XSTAT_CASES)
def test_random_exact_stat_plans_agree(spark, duck, sf_dir, case):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    got = spark.sql(render_xstat_sql(case, "DECIMAL(38,0)")).toPandas()
    want = duck.execute(render_xstat_sql(case, "HUGEINT")).df()
    assert_frames_match(got, want, f"xstat[{case['measure']}|{case['stats']}]")


# --- replica checksum-audit grammar (s19's compositional core) --------------
# The anti-entropy recipe generalized: a random column subset enters a
# canonical row string (numerics as exact cents, never float rendering),
# each row folds into a per-bucket (count, bit_xor, mod-2^61-1 sum) of
# the portable md5-prefix hash, and a replica with randomly-planted
# damage (missing keys, price drift, both, or NONE) is audited against
# the primary. Everything is ONE shared SQL string both engines parse —
# the engine-neutral instr nibble parse, not Spark's conv() fast path —
# except the exact accumulator type (DECIMAL(38,0) vs HUGEINT, the
# grammar-13 dialect token). Two properties per case: the engines agree
# bit-for-bit on the audit report, and the flagged bucket set equals
# EXACTLY the set of buckets containing planted damage (no false
# positives ever — the hash is deterministic; a false negative needs a
# simultaneous count+xor+sum collision).

_AUD_COLS = [
    "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)",
    "o_orderstatus",
    "o_orderpriority",
    "CAST(year(o_orderdate) AS STRING)",
    "CAST(o_custkey AS STRING)",
]
_AUD_HV = " + ".join(
    f"CAST(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1"
    f" AS BIGINT) * {16 ** (11 - i)}"
    for i in range(12)
)

AUDIT_CASES = st.fixed_dictionaries(
    {
        "cols": st.lists(
            st.sampled_from(_AUD_COLS), min_size=1, max_size=3, unique=True
        ),
        "buckets": st.sampled_from([4, 16, 64, 128]),
        "del_mod": st.sampled_from([0, 401, 611, 997]),
        "upd_mod": st.sampled_from([0, 733, 1499]),
        "drift_cents": st.sampled_from([1, 250]),
    }
)


def _aud_canon(case: dict, price_drift: bool) -> str:
    cols = ["CAST(o_orderkey AS STRING)"] + list(case["cols"])
    if price_drift:
        drifted = (
            "CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            f" + {case['drift_cents']} AS STRING)"
        )
        cols = [
            drifted
            if c == _AUD_COLS[0]
            else c
            for c in cols
        ]
    return "concat_ws('|', " + ", ".join(cols) + ")"


def render_audit_sql(case: dict, exact_type: str) -> str:
    b = case["buckets"]
    modsum = (
        f"CAST(sum(CAST(hv AS {exact_type})) % 2305843009213693951"
        " AS BIGINT)"
    )
    # The replica: drop keys % del_mod = 0; drift the price column (if
    # it participates in the canonical string) on keys % upd_mod = 0.
    repl_where = (
        f" WHERE o_orderkey % {case['del_mod']} <> 0"
        if case["del_mod"]
        else ""
    )
    if case["upd_mod"] and _AUD_COLS[0] in case["cols"]:
        repl_canon = (
            f"CASE WHEN o_orderkey % {case['upd_mod']} = 0 "
            f"THEN {_aud_canon(case, True)} "
            f"ELSE {_aud_canon(case, False)} END"
        )
    else:
        repl_canon = _aud_canon(case, False)

    def side(canon: str, where: str) -> str:
        return (
            f"(SELECT bucket, count(*) AS n, bit_xor(hv) AS x, {modsum} AS s"
            f" FROM (SELECT o_orderkey % {b} AS bucket, {_AUD_HV} AS hv"
            f" FROM (SELECT o_orderkey, o_custkey, o_totalprice,"
            f" o_orderstatus, o_orderpriority, o_orderdate,"
            f" md5({canon}) AS h FROM orders{where}))"
            " GROUP BY bucket)"
        )

    return (
        f"WITH p AS {side(_aud_canon(case, False), '')},"
        f" r AS {side(repl_canon, repl_where)}"
        " SELECT coalesce(p.bucket, r.bucket) AS bucket,"
        " CAST(coalesce(p.n, 0) AS BIGINT) AS n_primary,"
        " CAST(coalesce(r.n, 0) AS BIGINT) AS n_replica,"
        " CAST(coalesce(p.x, 0) AS BIGINT) AS x_primary,"
        " CAST(coalesce(r.x, 0) AS BIGINT) AS x_replica,"
        " CAST(coalesce(p.s, 0) AS BIGINT) AS s_primary,"
        " CAST(coalesce(r.s, 0) AS BIGINT) AS s_replica"
        " FROM p FULL JOIN r ON p.bucket = r.bucket"
        " WHERE p.n IS DISTINCT FROM r.n OR p.x IS DISTINCT FROM r.x"
        " OR p.s IS DISTINCT FROM r.s"
        " ORDER BY bucket"
    )


@FUZZ_SETTINGS_STABLE  # stable r7-r9; fresh-swept at sf0.01 AND sf0.1 (r9)
@given(case=AUDIT_CASES)
def test_random_checksum_audits_agree_and_locate_planted_damage(
    spark, duck, sf_dir, case
):
    from mric_bak_etl_spark.tables import register_views
    from test_oracle_parity import assert_frames_match

    register_views(spark, sf_dir)
    got = spark.sql(render_audit_sql(case, "DECIMAL(38,0)")).toPandas()
    want = duck.execute(render_audit_sql(case, "HUGEINT")).df()
    assert_frames_match(
        got, want, f"audit[b{case['buckets']}|{case['del_mod']}/{case['upd_mod']}]"
    )
    # Ground truth: the flagged buckets must be exactly those containing
    # planted damage. Price drift only damages rows whose canonical
    # string actually carries the price column.
    preds = []
    if case["del_mod"]:
        preds.append(f"o_orderkey % {case['del_mod']} = 0")
    if case["upd_mod"] and _AUD_COLS[0] in case["cols"]:
        dm = (
            f"o_orderkey % {case['upd_mod']} = 0"
            + (
                f" AND o_orderkey % {case['del_mod']} <> 0"
                if case["del_mod"]
                else ""
            )
        )
        preds.append(dm)
    if not preds:
        assert len(got) == 0, "audit of identical replicas must be silent"
        return
    expected = {
        r[0]
        for r in duck.execute(
            f"SELECT DISTINCT o_orderkey % {case['buckets']} FROM orders"
            f" WHERE {' OR '.join('(' + p + ')' for p in preds)}"
        ).fetchall()
    }
    assert set(got["bucket"]) == expected


# --- portable-sketch grammar (l2f/l40b's compositional core) -----------------
# The md5 MinHash-LSH recipe generalized: random shingle width x
# signature size x band count x verify threshold over a deterministic
# slice of the documents corpus (plus its planted truncated revisions,
# so true near-dups exist at every threshold). Both engines rebuild the
# signatures, the band keys, the candidate set, and the exact-Jaccard
# verified pairs from the same md5 family — the fixed catalog entries
# (l2f, l40b) pin two points of this space; the grammar pins the
# composition rules (rows-per-band arithmetic, band indexing, slice
# bounds, threshold filtering) across it.

_PS_CORPUS_SQL = """
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(
               string_split_regex(text, '\\s+')
                 [1:greatest(len(string_split_regex(text, '\\s+')) - 4, 1)],
               ' ')
      FROM documents WHERE doc_id % 10 = 0
"""

PSKETCH_CASES = st.fixed_dictionaries(
    {
        "k": st.sampled_from([2, 3, 4]),          # shingle width
        "n_hashes": st.sampled_from([8, 16]),     # signature slots
        "n_bands": st.sampled_from([2, 4]),       # LSH bands
        "thresh": st.sampled_from([0.3, 0.5, 0.7]),
    }
)


def render_psketch_sql(case: dict) -> str:
    from mric_bak_etl_spark.llm.dedup import (
        md5_bands_sql,
        md5_signature_sql,
        shingle_set_sql,
    )

    k, nh, nb = case["k"], case["n_hashes"], case["n_bands"]
    shingle = shingle_set_sql(k)
    sig = md5_signature_sql(nh)
    jac = (
        "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    )
    return f"""
    WITH corpus AS ({_PS_CORPUS_SQL}),
    sh AS (SELECT doc_id, {shingle} AS sh FROM corpus),
    sig AS (SELECT doc_id, [{sig}] AS mh FROM sh),
    bands AS ({md5_bands_sql("sig", nh, nb)}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, round({jac}, 4) AS jaccard
    FROM cands
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE round({jac}, 4) >= {case["thresh"]}
    ORDER BY doc_a, doc_b
    """


def build_psketch_spark(spark, sf_dir: str, case: dict):
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.llm.dedup import (
        _pairs_from_bands,
        exact_jaccard,
        portable_band_hashes,
        portable_minhash_signatures,
        shingles,
    )
    from mric_bak_etl_spark.tables import load_table, materialize

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.expr("doc_id % 5 = 0"))
    revs = d.filter(F.expr("doc_id % 10 = 0")).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, '\\\\s+'), 1,"
            " greatest(size(split(text, '\\\\s+')) - 4, 1)), ' ')"
        ).alias("text"),
    )
    corpus = base.unionByName(revs)
    sh_tbl = materialize(
        corpus.select("doc_id", shingles(k=case["k"]).alias("sh"))
    )
    pairs = _pairs_from_bands(
        portable_band_hashes(
            portable_minhash_signatures(sh_tbl, n_hashes=case["n_hashes"]),
            n_bands=case["n_bands"],
        )
    )
    return (
        exact_jaccard(sh_tbl, pairs)
        .filter(F.col("jaccard") >= case["thresh"])
        .orderBy("doc_a", "doc_b")
    )


@FUZZ_SETTINGS_STABLE  # stable r8-r10; fresh-swept at sf0.01 AND sf0.1 (r10)
@given(case=PSKETCH_CASES)
def test_random_portable_sketch_plans_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_psketch_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_psketch_sql(case)).df()
    assert_frames_match(
        got,
        want,
        f"psketch[k{case['k']}|h{case['n_hashes']}|b{case['n_bands']}"
        f"|t{case['thresh']}]",
    )


# ---------------------------------------------------------------------------
# Grammar 16: portable byte-moment recipe (m2b family). Random slice
# grids over random string transforms of the corpus — step = max(len //
# dim, 1), per-slice exact ascii-sum folds, one fixed-order feature-sum
# formula — must produce bit-identical doubles on both engines. This is
# the recipe m2b uses to value-anchor the pandas featurizer; the grammar
# guards its composition the way grammar 15 guards the sketch family
# (where writing the grammar found a real width-derivation bug).

BYTEMOMENT_CASES = st.fixed_dictionaries(
    {
        "dim": st.sampled_from([2, 3, 5, 8, 12]),  # slice count
        "xform": st.sampled_from(
            # the last one is mostly-empty strings: every slice empty,
            # the greatest(len,1) and CASE len=0 guards do all the work
            ["text", "upper(text)", "substring(text, 3, 40)",
             "substring(text, 2000, 10)"]
        ),
        "dp": st.sampled_from([4, 6]),              # feature round
    }
)


def _bytemoment_sum(s: str, engine: str) -> str:
    from mric_bak_etl_spark.llm.multimodal import _m2b_char_sum

    return _m2b_char_sum(s, engine)


def render_bytemoment_exprs(case: dict, engine: str) -> tuple[str, str]:
    dim, dp = case["dim"], case["dp"]
    feats = []
    for i in range(dim):
        s = f"substring(t, {i} * step + 1, step)"
        feats.append(
            f"(CASE WHEN length({s}) = 0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE round(CAST({_bytemoment_sum(s, engine)} AS DOUBLE)"
            f" / length({s}) / 255.0, {dp}) END)"
        )
    mean = (
        f"round(CAST({_bytemoment_sum('t', engine)} AS DOUBLE)"
        f" / greatest(length(t), 1) / 255.0, {dp})"
    )
    # Final round at the addends' scale, NEVER coarser: the first run of
    # this grammar falsified round(sum-of-6dp, 4) — sums of 6dp
    # multiples sit exactly on .xxxx5 boundaries where Spark
    # (shortest-repr HALF_UP) and DuckDB (binary-double) round apart.
    # m2/m2b were changed to the safe composition; this line guards it.
    return mean, f"round({' + '.join(feats)}, {dp})"


def render_bytemoment_sql(case: dict) -> str:
    mean, fsum = render_bytemoment_exprs(case, "duck")
    return f"""
    WITH stepped AS (
      SELECT doc_id, {case["xform"]} AS t,
             greatest(length({case["xform"]}) // {case["dim"]}, 1) AS step
      FROM documents
    )
    SELECT doc_id, {mean} AS mean_byte, {fsum} AS feature_sum
    FROM stepped
    ORDER BY doc_id
    """


def build_bytemoment_spark(spark, sf_dir: str, case: dict):
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.tables import load_table

    mean, fsum = render_bytemoment_exprs(case, "spark")
    stepped = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(case["xform"]).alias("t"),
        F.expr(
            f"greatest(length({case['xform']}) div {case['dim']}, 1)"
        ).alias("step"),
    )
    return stepped.select(
        "doc_id",
        F.expr(mean).alias("mean_byte"),
        F.expr(fsum).alias("feature_sum"),
    ).orderBy("doc_id")


@FUZZ_SETTINGS_STABLE  # stable r8-r10; fresh-swept at sf0.01 AND sf0.1 (r10)
@given(case=BYTEMOMENT_CASES)
def test_random_byte_moment_plans_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_bytemoment_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_bytemoment_sql(case)).df()
    assert_frames_match(
        got,
        want,
        f"bytemoment[d{case['dim']}|{case['xform']}|dp{case['dp']}]",
    )


# --- grammar 17: WAV codec recipe (m9's end-to-end composition) -------------
# Random geometry recipes through the REAL RIFF/WAVE codec: the builder
# makes a spec-valid WAV per document (optionally with a JUNK chunk
# between fmt and data — layout the ORACLE never models, so the sums must
# be gap-invariant purely via the decoder's own data_offset), decodes it,
# and emits exact per-channel signed-sample sums; DuckDB recomputes them
# closed-form from the cycled text bytes. Searches the space m9's fixed
# fixture pins one point of: channel counts x frame counts (including
# ZERO-frame files) x byte sources x chunk layouts. All-integer output —
# no float surface anywhere in the grammar.

WAVSUM_CASES = st.fixed_dictionaries(
    {
        "nch_mod": st.sampled_from([1, 2, 3]),
        "nfr_mod": st.sampled_from([1, 5, 12, 16]),
        "nfr_off": st.sampled_from([0, 1]),  # 0 admits zero-frame files
        "xform": st.sampled_from(
            ["text", "upper(text)", "substring(text, 5, 60)",
             "substring(text, 2000, 10)"]
        ),
        "gap": st.integers(min_value=0, max_value=9),
    }
)


def build_wavsum_spark(spark, sf_dir: str, case: dict):
    import struct

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.llm.multimodal import make_wav, wav_channel_sums
    from mric_bak_etl_spark.tables import load_table

    nch_mod, nfr_mod, off, gap = (
        case["nch_mod"], case["nfr_mod"], case["nfr_off"], case["gap"]
    )

    def batches(it):
        for pdf in it:
            out = {"doc_id": [], "channel": [], "sample_sum": []}
            for did, t in zip(pdf["doc_id"], pdf["t"]):
                assert t.isascii()  # the m8/m9 corpus contract
                nch = int(did) % nch_mod + 1
                nfr = int(did) % nfr_mod + off
                wav = make_wav(t.encode(), nch, nfr, 8000)
                if gap:
                    junk = (
                        b"JUNK" + struct.pack("<I", gap)
                        + b"\x7f" * gap + b"\x00" * (gap & 1)
                    )
                    moved = bytearray(wav[:12] + junk + wav[12:])
                    struct.pack_into("<I", moved, 4, len(moved) - 8)
                    wav = bytes(moved)
                for ch, s in enumerate(wav_channel_sums(wav)):
                    out["doc_id"].append(did)
                    out["channel"].append(ch)
                    out["sample_sum"].append(s)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(case["xform"]).alias("t")
    )
    return d.mapInPandas(
        batches, schema="doc_id long, channel long, sample_sum long"
    ).orderBy("doc_id", "channel")


def render_wavsum_sql(case: dict) -> str:
    nch_mod, nfr_mod, off = case["nch_mod"], case["nfr_mod"], case["nfr_off"]

    def byte(p: str) -> str:
        return f"ascii(substring(t, (({p}) % length(t)) + 1, 1))"

    return f"""
    WITH g AS (
      SELECT doc_id, {case["xform"]} AS t,
             doc_id % {nch_mod} + 1 AS nch,
             doc_id % {nfr_mod} + {off} AS nfr
      FROM documents
    ),
    c AS (SELECT doc_id, t, nch, nfr, unnest(range(0, nch)) AS ch FROM g)
    SELECT doc_id,
           CAST(ch AS BIGINT) AS channel,
           CAST(CASE WHEN nfr = 0 OR length(t) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, nfr - 1), f ->
               ({byte("2 * (f * nch + ch)")}
                + 256 * {byte("2 * (f * nch + ch) + 1")}
                + 32768) % 65536 - 32768))
           END AS BIGINT) AS sample_sum
    FROM c
    ORDER BY doc_id, channel
    """


@FUZZ_SETTINGS_STABLE
@given(case=WAVSUM_CASES)
def test_random_wav_codec_recipes_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_wavsum_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_wavsum_sql(case)).df()
    assert_frames_match(
        got,
        want,
        f"wavsum[c{case['nch_mod']}|f{case['nfr_mod']}+{case['nfr_off']}|"
        f"{case['xform']}|g{case['gap']}]",
    )


# --- grammar 18: WAV windowing recipe (m10's end-to-end composition) ---------
# Grammar 17 searches the codec's channel-sum contract; this searches the
# FRAMING consumer built on it: random window sizes x channel counts x
# frame counts (including zero-frame files, which must emit zero window
# rows) x byte sources x JUNK-chunk layouts, with the window membership,
# the ragged last window, and the per-window max recomputed closed-form
# by DuckDB from the cycled text bytes. The gap exists only on the Spark
# side (the oracle never models it), so any offset/stride slip in the
# decoder->window path diverges immediately. All-integer output.

WAVWIN_CASES = st.fixed_dictionaries(
    {
        "nch_mod": st.sampled_from([1, 2, 3]),
        "nfr_mod": st.sampled_from([1, 7, 13, 24]),
        "nfr_off": st.sampled_from([0, 1]),  # 0 admits zero-frame files
        "win": st.sampled_from([1, 3, 4, 5]),
        "xform": st.sampled_from(
            ["text", "upper(text)", "substring(text, 7, 40)"]
        ),
        "gap": st.integers(min_value=0, max_value=9),
    }
)


def build_wavwin_spark(spark, sf_dir: str, case: dict):
    import struct

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: PLC0415

    import mric_bak_etl_spark.llm.multimodal as mm
    from mric_bak_etl_spark.tables import load_table

    nch_mod, nfr_mod, off, gap, win = (
        case["nch_mod"], case["nfr_mod"], case["nfr_off"], case["gap"],
        case["win"],
    )

    def batches(it):
        for pdf in it:
            out = {
                "doc_id": [], "channel": [], "win_no": [],
                "n_win_frames": [], "win_sum": [], "win_peak": [],
            }
            for did, t in zip(pdf["doc_id"], pdf["t"]):
                assert t.isascii()  # the m8/m9 corpus contract
                nch = int(did) % nch_mod + 1
                nfr = int(did) % nfr_mod + off
                wav = mm.make_wav(t.encode(), nch, nfr, 8000)
                if gap:
                    junk = (
                        b"JUNK" + struct.pack("<I", gap)
                        + b"\x7f" * gap + b"\x00" * (gap & 1)
                    )
                    moved = bytearray(wav[:12] + junk + wav[12:])
                    struct.pack_into("<I", moved, 4, len(moved) - 8)
                    wav = bytes(moved)
                for ch, w, n, s, peak in mm.wav_window_stats(
                    wav, win_frames=win
                ):
                    out["doc_id"].append(did)
                    out["channel"].append(ch)
                    out["win_no"].append(w)
                    out["n_win_frames"].append(n)
                    out["win_sum"].append(s)
                    out["win_peak"].append(peak)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(case["xform"]).alias("t")
    )
    return d.mapInPandas(
        batches,
        schema=(
            "doc_id long, channel long, win_no long, n_win_frames long, "
            "win_sum long, win_peak long"
        ),
    ).orderBy("doc_id", "channel", "win_no")


def render_wavwin_sql(case: dict) -> str:
    nch_mod, nfr_mod, off, win = (
        case["nch_mod"], case["nfr_mod"], case["nfr_off"], case["win"]
    )

    def byte(p: str) -> str:
        return f"ascii(substring(t, (({p}) % length(t)) + 1, 1))"

    sample = (
        f"({byte('2 * (f * nch + ch)')}"
        f" + 256 * {byte('2 * (f * nch + ch) + 1')}"
        " + 32768) % 65536 - 32768"
    )
    frames = (
        f"generate_series({win} * win, "
        f"least({win} * win + {win - 1}, nfr - 1))"
    )
    return f"""
    WITH g AS (
      SELECT doc_id, {case["xform"]} AS t,
             doc_id % {nch_mod} + 1 AS nch,
             doc_id % {nfr_mod} + {off} AS nfr
      FROM documents
    ),
    c AS (SELECT doc_id, t, nch, nfr, unnest(range(0, nch)) AS ch FROM g),
    w AS (
      SELECT doc_id, t, nch, nfr, ch,
             unnest(range(0, (nfr + {win - 1}) // {win})) AS win
      FROM c
    )
    SELECT doc_id,
           CAST(ch AS BIGINT) AS channel,
           CAST(win AS BIGINT) AS win_no,
           CAST(least({win}, nfr - {win} * win) AS BIGINT) AS n_win_frames,
           CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
             list_sum(list_transform({frames}, f -> {sample}))
           END AS BIGINT) AS win_sum,
           CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
             list_max(list_transform({frames}, f -> {sample}))
           END AS BIGINT) AS win_peak
    FROM w
    ORDER BY doc_id, channel, win_no
    """


@FUZZ_SETTINGS_STABLE
@given(case=WAVWIN_CASES)
def test_random_wav_window_recipes_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_wavwin_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_wavwin_sql(case)).df()
    assert_frames_match(
        got,
        want,
        f"wavwin[c{case['nch_mod']}|f{case['nfr_mod']}+{case['nfr_off']}|"
        f"w{case['win']}|{case['xform']}|g{case['gap']}]",
    )


# --- grammar 19: ZIP manifest recipe (m12's end-to-end composition) ---------
# Random archive recipes through the REAL ZIP codec: the builder packs a
# per-document stored-method archive (entry counts x entry-length ladders x
# byte sources x self-extracting junk prefixes x EOCD comments — the last
# two are layout the ORACLE never models, so the manifest sums must be
# shift-invariant purely via the decoder's own offsets), walks the central
# directory, and emits exact per-entry byte sums; DuckDB recomputes them
# closed-form from the rotated cycled text bytes. All-integer output — no
# float surface anywhere in the grammar.

ZIPMAN_CASES = st.fixed_dictionaries(
    {
        "ne_mod": st.sampled_from([1, 2, 3, 4]),
        "len_mod": st.sampled_from([5, 13, 19]),
        "len_step": st.sampled_from([0, 3, 7]),
        "xform": st.sampled_from(
            ["text", "upper(text)", "substring(text, 5, 60)",
             "substring(text, 2000, 10)"]
        ),
        "prefix": st.integers(min_value=0, max_value=9),
        "comment": st.booleans(),
        "deflate": st.booleans(),  # m13: alternate stored/deflated entries
    }
)


def build_zipman_spark(spark, sf_dir: str, case: dict):
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_zip,
        zip_entry_byte_sums,
    )
    from mric_bak_etl_spark.tables import load_table

    ne_mod, len_mod, step = case["ne_mod"], case["len_mod"], case["len_step"]
    prefix, comment = case["prefix"], case["comment"]
    deflate = case["deflate"]

    def batches(it):
        for pdf in it:
            out = {"doc_id": [], "entry_no": [], "n_bytes": [], "byte_sum": []}
            for did, t in zip(pdf["doc_id"], pdf["t"]):
                assert t.isascii()  # the m8/m9 corpus contract
                ne = int(did) % ne_mod + 1
                lens = [int(did) % len_mod + 1 + step * i for i in range(ne)]
                blob = make_zip(
                    t.encode(), lens,
                    prefix=b"\xfe" * prefix,
                    comment=(f"fuzz {did}".encode() if comment else b""),
                    # oracle is method-invariant: it models content bytes,
                    # never the stream (the m13 contract)
                    methods=[(i % 2) * 8 if deflate else 0
                             for i in range(ne)],
                )
                dec = decode_media(blob, "archive")
                for i, (sz, s) in enumerate(zip_entry_byte_sums(blob, dec)):
                    out["doc_id"].append(did)
                    out["entry_no"].append(i)
                    out["n_bytes"].append(sz)
                    out["byte_sum"].append(s)
            yield pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(case["xform"]).alias("t")
    )
    return d.mapInPandas(
        batches,
        schema="doc_id long, entry_no long, n_bytes long, byte_sum long",
    ).orderBy("doc_id", "entry_no")


def render_zipman_sql(case: dict) -> str:
    ne_mod, len_mod, step = case["ne_mod"], case["len_mod"], case["len_step"]

    def byte(p: str) -> str:
        return f"ascii(substring(t, (({p}) % length(t)) + 1, 1))"

    return f"""
    WITH g AS (
      SELECT doc_id, {case["xform"]} AS t, doc_id % {ne_mod} + 1 AS ne
      FROM documents
    ),
    e AS (SELECT doc_id, t, unnest(range(0, ne)) AS i FROM g),
    s AS (SELECT doc_id, t, i,
                 doc_id % {len_mod} + 1 + {step} * i AS len
          FROM e)
    SELECT doc_id,
           CAST(i AS BIGINT)   AS entry_no,
           CAST(len AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, len - 1), j ->
               {byte("j + i")}))
           END AS BIGINT)      AS byte_sum
    FROM s
    ORDER BY doc_id, entry_no
    """


@FUZZ_SETTINGS
@given(case=ZIPMAN_CASES)
def test_random_zip_manifest_recipes_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_zipman_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_zipman_sql(case)).df()
    assert_frames_match(
        got,
        want,
        f"zipman[n{case['ne_mod']}|l{case['len_mod']}+{case['len_step']}|"
        f"{case['xform']}|p{case['prefix']}|c{int(case['comment'])}|"
        f"d{int(case['deflate'])}]",
    )


# --- grammar 21: incremental-crawl funnel recipe (l42's composition) --------
# l42/l42b/l42c pin the funnel at two hand-picked configurations; this
# grammar sweeps the funnel's PARAMETER SPACE (r12 verdict task 7):
# (signature width x band count) x posting cap x verify threshold x
# duplication regime (verbatim / lightly-edited copies) x batch
# composition, each instance checked bit-for-bit against the
# parameterized DuckDB oracle (render_crawl_funnel_ctes — the same
# fragment generator that l42's, l42b's and l42c's registered oracles
# compose, so the SQL fuzzed here is the SQL those oracles run). The
# fixture corpus/batch are generated from ONE SQL text executed by both
# engines (spark.sql over a temp view and DuckDB over the documents
# view), so the only thing under test is the funnel itself. The fresh
# arm is ALWAYS present, which keeps every gate's n_in >= 1 (no 0/0
# pct_kept rows to diverge on NaN semantics).

CRAWL_CASES = st.fixed_dictionaries(
    {
        # (n_hashes, n_bands): rows-per-band from 2 to 8
        "geom": st.sampled_from([(4, 2), (8, 2), (8, 4), (16, 4), (16, 8)]),
        "cap": st.sampled_from([1, 2, 4, 8, 32]),
        "thresh": st.sampled_from([0.3, 0.5, 0.7]),
        "dup": st.sampled_from([1, 2, 5]),  # copies of every corpus text
        "edited": st.booleans(),  # copies verbatim vs one-token-edited
        "base_mod": st.integers(min_value=0, max_value=9),
        "reship": st.booleans(),  # corpus doc re-shipped under a new URL
        "inbatch": st.booleans(),  # same text twice inside the batch
        "neardup": st.booleans(),  # corpus doc + one appended token
    }
)


def _crawl_corpus_sql(case, table: str) -> str:
    parts = []
    for c in range(case["dup"]):
        suffix = f" || ' v{c}'" if (case["edited"] and c > 0) else ""
        parts.append(
            f"SELECT doc_id + {1000000 * c} AS doc_id, text{suffix} AS text "
            f"FROM {table} WHERE doc_id % 10 = {case['base_mod']}"
        )
    return "\n      UNION ALL\n      ".join(parts)


def _crawl_batch_sql(case, table: str) -> str:
    m = case["base_mod"]
    where = f"WHERE doc_id % 10 = {m}"
    parts = [
        # URL arm (always): shared curl groups, keeper = longest text
        f"SELECT doc_id + 2000000 AS new_id, text AS text, "
        f"'u://'||(doc_id%7) AS curl FROM {table} {where}",
        f"SELECT doc_id + 2100000, text || ' ext', "
        f"'u://'||(doc_id%7) FROM {table} {where}",
        # Fresh arm (always): survives every gate
        f"SELECT doc_id + 5000000, "
        f"'fresh crawl '||doc_id||' carries novel tokens '||(doc_id*7), "
        f"'u://fresh/'||doc_id FROM {table} {where}",
    ]
    if case["reship"]:
        parts.append(
            f"SELECT doc_id + 3000000, text, 'u://re/'||doc_id "
            f"FROM {table} {where}"
        )
    if case["inbatch"]:
        parts.append(
            f"SELECT doc_id + 4000000, text || ' dup', 'u://a/'||doc_id "
            f"FROM {table} {where}"
        )
        parts.append(
            f"SELECT doc_id + 4500000, text || ' dup', 'u://b/'||doc_id "
            f"FROM {table} {where}"
        )
    if case["neardup"]:
        parts.append(
            f"SELECT doc_id + 6000000, text || ' tail', 'u://nd/'||doc_id "
            f"FROM {table} {where}"
        )
    return "\n      UNION ALL\n      ".join(parts)


def build_crawl_funnel_spark(spark, sf_dir, case):
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("g21_documents")
    corpus = spark.sql(_crawl_corpus_sql(case, "g21_documents"))
    batch = spark.sql(_crawl_batch_sql(case, "g21_documents"))
    nh, nb = case["geom"]
    flags = D.crawl_flags(
        corpus,
        batch,
        n_hashes=nh,
        n_bands=nb,
        cap=case["cap"],
        thresh=case["thresh"],
    )
    return D._crawl_waterfall_from_flags(flags).select(
        F.lit(1).alias("batch_no"), "*"
    )


def render_crawl_funnel_sql(case) -> str:
    from mric_bak_etl_spark.llm import dedup as D

    nh, nb = case["geom"]
    return f"""
    WITH corpus_f AS (
      {_crawl_corpus_sql(case, "documents")}
    ),
    batch_f AS (
      {_crawl_batch_sql(case, "documents")}
    ),
    {D.render_crawl_funnel_ctes(
        "_f",
        n_hashes=nh,
        n_bands=nb,
        cap=case["cap"],
        thresh=case["thresh"],
    )}
    {D.render_crawl_waterfall_select([(1, "_f")])}
    """


@FUZZ_SETTINGS_HEAVY
@given(case=CRAWL_CASES)
def test_random_crawl_funnel_recipes_agree(spark, duck, sf_dir, case):
    from test_oracle_parity import assert_frames_match

    got = build_crawl_funnel_spark(spark, sf_dir, case).toPandas()
    want = duck.execute(render_crawl_funnel_sql(case)).df()
    nh, nb = case["geom"]
    assert_frames_match(
        got,
        want,
        f"crawl[{nh}x{nb}|cap{case['cap']}|t{case['thresh']}|"
        f"d{case['dup']}{'e' if case['edited'] else 'v'}|m{case['base_mod']}|"
        f"{'r' if case['reship'] else ''}{'i' if case['inbatch'] else ''}"
        f"{'n' if case['neardup'] else ''}]",
    )
