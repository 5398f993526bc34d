"""Property-based checks (SURVEY.md §5.2): algebraic identities the engine
must preserve on arbitrary inputs — the invariants DuckDB parity can't
probe beyond the fixed fixtures. Hypothesis generates small row sets;
examples are capped and deadline disabled because each example runs a
Spark action."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=0,
    max_size=40,
)

PROP_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # fixed seed: SURVEY §5.2 demands reproducible runs
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
        len(rows)
    )


@PROP_SETTINGS
@given(rows=ROWS)
def test_topk_equals_sorted_prefix(spark, rows):
    # TakeOrderedAndProject must agree with the full sort's prefix under a
    # total order (k, v) regardless of partitioning.
    k = 7
    got = [
        (r["k"], r["v"])
        for r in _df(spark, rows).orderBy("k", "v").limit(k).collect()
    ]
    assert got == sorted(rows)[:k]


@PROP_SETTINGS
@given(a=ROWS, b=ROWS)
def test_except_all_is_multiset_difference(spark, a, b):
    got = Counter(
        (r["k"], r["v"])
        for r in _df(spark, a).exceptAll(_df(spark, b)).collect()
    )
    want = Counter(a) - Counter(b)
    assert got == want


@PROP_SETTINGS
@given(a=ROWS, b=ROWS)
def test_union_all_counts_and_intersect_containment(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionByName(db).count() == len(a) + len(b)
    inter = {(r["k"], r["v"]) for r in da.intersect(db).collect()}
    assert inter == set(a) & set(b)


@PROP_SETTINGS
@given(rows=ROWS)
def test_groupby_sum_invariant_to_repartitioning(spark, rows):
    # Partial-agg + shuffle must yield identical sums for any partition
    # layout (associativity/commutativity of the combine step on ints).
    df = _df(spark, rows)
    base = {
        (r["k"], r["s"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    reparted = {
        (r["k"], r["s"])
        for r in df.repartition(13, "v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert base == reparted


KEYSETS = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60
)


@PROP_SETTINGS
@given(members=KEYSETS, probes=KEYSETS)
def test_bloom_probe_never_false_negative(spark, members, probes):
    # Bloom invariant on arbitrary key sets: every probe key that IS a
    # member must survive the probe stage (false positives allowed,
    # false negatives never).
    from mric_bak_etl_spark.operators.joins import bloom_probe

    keys = spark.createDataFrame([(k,) for k in set(members)], "bk bigint")
    fact = spark.createDataFrame([(p,) for p in probes], "pk bigint")
    survivors = {
        r["pk"] for r in bloom_probe(fact, keys, "bk", "pk").collect()
    }
    member_probes = set(members) & set(probes)
    assert member_probes <= survivors


@PROP_SETTINGS
@given(rows=ROWS)
def test_entropy_bounds(spark, rows):
    # Token-entropy algebraic form: 0 <= ln(n) - (sum c ln c)/n <= ln(n),
    # with equality at 0 iff one distinct token. Build a tiny corpus from
    # the generated (k, v) pairs as "tokens" per doc v.
    df = _df(spark, rows).selectExpr("v as doc_id", "cast(k as string) as term")
    tf = df.groupBy("doc_id", "term").count()
    ent = tf.groupBy("doc_id").agg(
        (
            F.log(F.sum("count"))
            - F.sum(F.col("count") * F.log("count")) / F.sum("count")
        ).alias("h"),
        F.sum("count").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    for r in ent.collect():
        assert -1e-9 <= r["h"] <= float(__import__("math").log(r["n"])) + 1e-9
        if r["n_distinct"] == 1:
            assert abs(r["h"]) < 1e-9


@PROP_SETTINGS
@given(rows=ROWS)
def test_js_divergence_bounds_and_identity(spark, rows):
    # JS divergence between the two halves of an arbitrary multiset is in
    # [0, ln 2]; JS of a distribution with itself is 0.
    import math

    df = _df(spark, rows)
    wide = df.groupBy("k").agg(
        F.sum(F.when(F.col("v") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("v") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    totals = wide.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb")).collect()[0]
    if not totals["ta"] or not totals["tb"]:
        return  # an empty side has no distribution
    probs = wide.select(
        (F.col("ca") / F.lit(totals["ta"])).alias("p"),
        (F.col("cb") / F.lit(totals["tb"])).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    js = probs.agg(
        (
            0.5 * F.sum(F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0))
            + 0.5 * F.sum(F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0))
        ).alias("js")
    ).collect()[0]["js"]
    assert -1e-9 <= js <= math.log(2) + 1e-9
    # identity: JS(p, p) == 0
    js_self = probs.agg(
        (
            0.5 * F.sum(F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / F.col("p"))).otherwise(0.0))
            + 0.5 * F.sum(F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / F.col("p"))).otherwise(0.0))
        ).alias("js")
    ).collect()[0]["js"]
    assert abs(js_self) < 1e-12


@PROP_SETTINGS
@given(rows=ROWS)
def test_incremental_agg_equals_direct(spark, rows):
    # IVM identity on arbitrary data: old aggregate + deltas from an
    # arbitrary row-level change set == direct aggregate of the new state.
    old = _df(spark, rows)
    # new state: drop v==0 rows, double v for k>0, insert a fresh row
    new = (
        old.filter(F.col("v") != 0)
        .withColumn("v", F.when(F.col("k") > 0, F.col("v") * 2).otherwise(F.col("v")))
        .unionByName(spark.createDataFrame([(99, 3)], "k int, v int"))
    )
    direct = {
        r["k"]: (r["n"], r["s"])
        for r in new.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    old_agg = old.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    # deltas: full dissolve into -old +new contributions (key-less rows,
    # so the generic multiset form rather than r21's keyed diff)
    minus = old.select("k", F.lit(-1).alias("dn"), (-F.col("v")).alias("ds"))
    plus = new.select("k", F.lit(1).alias("dn"), F.col("v").alias("ds"))
    delta = (
        minus.unionByName(plus)
        .groupBy("k")
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    merged = old_agg.join(delta, "k", "full").select(
        "k",
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("s"),
    ).filter(F.col("n") > 0)
    maintained = {r["k"]: (r["n"], r["s"]) for r in merged.collect()}
    assert maintained == direct


def test_sequence_pattern_planted_semantics(spark, tmp_path):
    """e9 regex-CEP semantics on planted sequences: empty (click|view)*
    runs match, an intervening error breaks the funnel, and counting is
    non-overlapping (a purchase consumed by one match cannot seed
    another)."""
    import datetime as dt

    from mric_bak_etl_spark.catalog import all_specs

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    planted = {
        1: ("signup click click view purchase signup view purchase", 2),
        2: ("signup click error purchase", 0),
        3: ("signup purchase", 1),
        4: ("click purchase view", 0),
        5: ("signup click purchase click purchase", 1),
    }
    for uid, (seq, _) in planted.items():
        for i, et in enumerate(seq.split()):
            eid += 1
            rows.append((eid, base + dt.timedelta(minutes=i), uid, et, 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "e9_sf")
    df.coalesce(1).write.parquet(d + "/events.parquet")

    out = all_specs()["e9_sequence_pattern"].builder(spark, d).collect()
    got = {r["user_id"]: r["n_funnels"] for r in out}
    want = {u: n for u, (_, n) in planted.items() if n > 0}
    assert got == want, (got, want)


def test_growth_accounting_identities(spark, sf_dir, duck):
    """e12's books must balance: for every week, active(w) = new +
    retained + resurrected; and for every INTERIOR week (one whose
    successor week is still inside the corpus horizon),
    active(w) = retained(w+1) + churned(w+1) — each last-week active
    user either comes back next week or churns into it."""
    from mric_bak_etl_spark.catalog import all_specs

    rows = {
        r["week"]: (r["n_new"], r["n_retained"], r["n_resurrected"],
                    r["n_churned"])
        for r in all_specs()["e12_growth_accounting"].builder(
            spark, sf_dir
        ).collect()
    }
    active = {
        str(w): n
        for w, n in duck.execute(
            """SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
                      count(DISTINCT user_id)
               FROM events GROUP BY wk"""
        ).fetchall()
    }
    assert set(active) <= set(rows)
    for w, n_active in active.items():
        new, ret, res, _ = rows[w]
        assert new + ret + res == n_active, (w, rows[w], n_active)

    import datetime as dt

    weeks = sorted(active)
    for w, nxt in zip(weeks, weeks[1:]):
        w_d = dt.date.fromisoformat(w)
        n_d = dt.date.fromisoformat(nxt)
        if (n_d - w_d).days != 7:
            continue  # gap week: the identity moves through churn rows
        _, ret_n, _, chu_n = rows[nxt]
        assert ret_n + chu_n == active[w], (w, nxt, rows[nxt], active[w])


def test_portable_hll_matches_pure_python_reference(spark, sf_dir):
    # a3b's claim is engine-neutrality: recompute the whole sketch in
    # plain Python (hashlib.md5, integer bit ops, one float division) and
    # demand the 4dp estimates agree exactly — a reference independent of
    # BOTH Spark and DuckDB.
    import hashlib

    from mric_bak_etl_spark.operators.aggregates import _HLL_M, portable_hll

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.year("l_shipdate").cast("bigint").alias("y"),
            F.col("l_partkey").cast("string").alias("v"),
        )
        .distinct()
        .collect()
    )
    sketches: dict[int, list[int]] = {}
    for r in rows:
        h = hashlib.md5(r["v"].encode()).hexdigest()
        bucket = int(h[0], 16)
        rest = h[1:14]
        stripped = rest.lstrip("0")
        if not stripped:
            rho = 53
        else:
            nib = int(stripped[0], 16)
            lead = 0 if nib >= 8 else 1 if nib >= 4 else 2 if nib >= 2 else 3
            rho = (len(rest) - len(stripped)) * 4 + lead + 1
        buckets = sketches.setdefault(r["y"], [0] * _HLL_M)
        buckets[bucket] = max(buckets[bucket], rho)
    expected = {}
    c = 0.673 * _HLL_M * _HLL_M * 2.0**53
    for y, buckets in sketches.items():
        denom = sum(1 << (53 - rho) for rho in buckets)
        raw = c / float(denom)
        v_empty = buckets.count(0)
        est = (
            16.0 * __import__("math").log(16.0 / v_empty)
            if raw <= 40.0 and v_empty > 0
            else raw
        )
        expected[y] = round(round(est, 12), 4)
    got = {
        r["ship_year"]: r["hll_estimate"]
        for r in portable_hll(spark, sf_dir).collect()
    }
    assert got == expected
    # Estimates are genuinely approximate but usable: m=16 gives a ~26%
    # standard error; demand every per-year estimate lands within 60%.
    exact = Counter(r["y"] for r in rows)
    for y, est in got.items():
        assert abs(est - exact[y]) / exact[y] < 0.6, (y, est, exact[y])


def test_portable_sketch_merge_is_lossless(spark, sf_dir):
    # a23b's claim is that max-rank merge loses nothing: week registers
    # merged to a corpus total must equal registers built DIRECTLY over
    # the whole corpus in one pass — so a sketch persisted at one grain
    # and rolled up later estimates exactly what a fresh full-scan
    # sketch would. Also pins the readout contract: the total row's
    # n_merged counts the week sketches and n_exact is the true corpus
    # distinct-user count.
    from mric_bak_etl_spark.operators.aggregates import (
        _hll_max_rank,
        portable_sketch_merge_rollup,
    )
    from mric_bak_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    hashed = e.select(F.md5(F.col("user_id").cast("string")).alias("h"))
    direct = {
        r["bucket"]: r["r"] for r in _hll_max_rank(hashed, []).collect()
    }
    week_col = F.date_format(
        F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"
    ).alias("week")
    weekly = _hll_max_rank(
        e.select(
            week_col, F.md5(F.col("user_id").cast("string")).alias("h")
        ),
        ["week"],
    )
    merged = {
        r["bucket"]: r["r"]
        for r in weekly.groupBy("bucket").agg(F.max("r").alias("r")).collect()
    }
    assert merged == direct
    rows = {
        r["grain"]: r
        for r in portable_sketch_merge_rollup(spark, sf_dir).collect()
        if r["grain"] == "total"
    }
    total = rows["total"]
    n_weeks = weekly.select("week").distinct().count()
    n_users = e.select("user_id").distinct().count()
    assert total["n_merged"] == n_weeks
    assert total["n_exact"] == n_users


def test_moment_profile_matches_pure_python_reference(spark, sf_dir):
    # a26's claim is exactness: the power sums are exact integers, so a
    # pure-Python recompute (arbitrary-precision ints, then the same
    # left-to-right double formulas) must agree to the 4dp round on
    # every statistic — and Spark's own double-accumulating builtins
    # must sit within float-drift distance of the exact answer.
    from mric_bak_etl_spark.operators.aggregates import moment_profile

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    acc: dict[str, list[int]] = {}
    for r in rows:
        c = int(round(r["l_extendedprice"] * 100))
        q = int(round(r["l_quantity"]))
        a = acc.setdefault(r["l_returnflag"], [0] * 8)
        a[0] += 1
        a[1] += c
        a[2] += c * c
        a[3] += c * c * c
        a[4] += c * c * c * c
        a[5] += q
        a[6] += q * q
        a[7] += q * c
    got = {r["l_returnflag"]: r for r in moment_profile(spark, sf_dir).collect()}
    assert set(got) == set(acc)
    import math

    for flag, (n_i, s1_i, s2_i, s3_i, s4_i, q1_i, q2_i, sq_i) in acc.items():
        n, s1, s2, s3, s4, q1, q2, sq = (
            float(v) for v in (n_i, s1_i, s2_i, s3_i, s4_i, q1_i, q2_i, sq_i)
        )
        var = s2 / n - (s1 / n) * (s1 / n)
        qvar = q2 / n - (q1 / n) * (q1 / n)
        ref = {
            "n_items": n_i,
            "mean_price": s1 / n / 100,
            "std_price": math.sqrt(var) / 100,
            "skewness": (
                s3 / n
                - 3 * (s1 / n) * (s2 / n)
                + 2 * (s1 / n) * (s1 / n) * (s1 / n)
            )
            / (var * math.sqrt(var)),
            "kurtosis": (
                s4 / n
                - 4 * (s1 / n) * (s3 / n)
                + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
            )
            / (var * var)
            - 3,
            "corr_qty_price": (sq / n - (q1 / n) * (s1 / n))
            / (math.sqrt(qvar) * math.sqrt(var)),
        }
        row = got[flag]
        assert row["n_items"] == ref["n_items"], flag
        for k in (
            "mean_price",
            "std_price",
            "skewness",
            "kurtosis",
            "corr_qty_price",
        ):
            # engine rounds half-away, Python round is banker's: compare
            # to the unrounded reference with a half-round tolerance.
            assert abs(row[k] - ref[k]) <= 5.1e-5, (flag, k, row[k], ref[k])

    # Spark's builtin (double-accumulating) moments agree with the exact
    # ones to float-drift distance — same definitions, g1/excess.
    builtin = {
        r["l_returnflag"]: r
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.skewness("l_extendedprice").alias("sk"),
            F.kurtosis("l_extendedprice").alias("ku"),
            F.corr("l_quantity", "l_extendedprice").alias("co"),
        )
        .collect()
    }
    for flag, row in got.items():
        assert abs(row["skewness"] - builtin[flag]["sk"]) < 1e-3
        assert abs(row["kurtosis"] - builtin[flag]["ku"]) < 1e-3
        assert abs(row["corr_qty_price"] - builtin[flag]["co"]) < 1e-3


def test_experiment_ztest_reference_and_flag_consistency(spark, sf_dir):
    # Pure-Python recompute of both z-tests (exact integer sums, the
    # same double formulas) + the structural contract: `significant`
    # is exactly |z| >= 1.96 evaluated on the UNROUNDED statistic.
    import math

    from mric_bak_etl_spark.operators.events import experiment_ztest

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "value")
        .collect()
    )
    in_a = lambda u: ((u * 2654435761) % 2147483648) < 1073741824  # noqa: E731
    conv: dict[int, int] = {}
    ev_sums = {"na": 0, "nb": 0, "s1a": 0, "s1b": 0, "s2a": 0, "s2b": 0}
    for r in rows:
        u = r["user_id"]
        hit = 1 if (r["event_type"] == "purchase" and r["value"] >= 95) else 0
        conv[u] = max(conv.get(u, 0), hit)
        vc = int(round(r["value"] * 100))
        if in_a(u):
            ev_sums["na"] += 1
            ev_sums["s1a"] += vc
            ev_sums["s2a"] += vc * vc
        else:
            ev_sums["nb"] += 1
            ev_sums["s1b"] += vc
            ev_sums["s2b"] += vc * vc
    na = float(sum(1 for u in conv if in_a(u)))
    nb = float(len(conv)) - na
    ca = float(sum(c for u, c in conv.items() if in_a(u)))
    cb = float(sum(conv.values())) - ca
    p = (ca + cb) / (na + nb)
    z_prop = (ca / na - cb / nb) / math.sqrt(
        p * (1 - p) * (1 / na + 1 / nb)
    )
    ena, enb = float(ev_sums["na"]), float(ev_sums["nb"])
    s1a, s1b = float(ev_sums["s1a"]), float(ev_sums["s1b"])
    s2a, s2b = float(ev_sums["s2a"]), float(ev_sums["s2b"])
    # Bessel-corrected sample variance (n/(n-1) * population second
    # moment), matching the r7 Welch form in operators/events.py.
    va = (s2a / ena - (s1a / ena) * (s1a / ena)) * (ena / (ena - 1))
    vb = (s2b / enb - (s1b / enb) * (s1b / enb)) * (enb / (enb - 1))
    z_welch = (s1a / ena - s1b / enb) / math.sqrt(va / ena + vb / enb)

    got = {r["metric"]: r for r in experiment_ztest(spark, sf_dir).collect()}
    assert set(got) == {"purchase_conversion", "avg_event_value"}
    pc, av = got["purchase_conversion"], got["avg_event_value"]
    assert (pc["n_a"], pc["n_b"]) == (int(na), int(nb))
    assert (av["n_a"], av["n_b"]) == (int(ena), int(enb))
    assert abs(pc["z_score"] - z_prop) <= 5.1e-5
    assert abs(av["z_score"] - z_welch) <= 5.1e-5
    assert pc["significant"] == (abs(z_prop) >= 1.96)
    assert av["significant"] == (abs(z_welch) >= 1.96)


def test_outer_flatten_preserves_every_parent(spark, sf_dir):
    # The operator's whole point: outer explode loses NO parent rows —
    # the degenerate slices (NULL for lang='de', empty for n_chars%7==0)
    # surface as exactly one (NULL, NULL) row, and real arrays flatten
    # to contiguous 0-based positions.
    from mric_bak_etl_spark.functions.scalar import outer_flatten

    docs = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    out: dict[int, list] = {}
    for r in outer_flatten(spark, sf_dir).collect():
        out.setdefault(r["doc_id"], []).append((r["pos"], r["tok"]))
    assert set(out) == set(docs)  # no parent dropped, none invented
    for doc_id, pairs in out.items():
        d = docs[doc_id]
        if d["lang"] == "de" or d["n_chars"] % 7 == 0:
            assert pairs == [(None, None)], doc_id
        else:
            toks = d["text"].split(" ")[:4]
            assert sorted(pairs) == [
                (i, t) for i, t in enumerate(toks)
            ], doc_id


def test_replica_checksum_audit_finds_exactly_the_planted_buckets(
    spark, sf_dir
):
    # Every bucket containing a planted divergence is flagged with the
    # right drift class; no clean bucket is ever flagged (the hash is
    # deterministic, so false positives are impossible by construction).
    from mric_bak_etl_spark.pipeline.lifecycle import (
        _S19_BUCKETS,
        _S19_DEL_MOD,
        _S19_UPD_MOD,
        replica_checksum_audit,
    )

    keys = [
        r["o_orderkey"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    deleted = {k for k in keys if k % _S19_DEL_MOD == 0}
    updated = {k for k in keys if k % _S19_UPD_MOD == 0 and k not in deleted}
    count_drift = {k % _S19_BUCKETS for k in deleted}
    content_only = {k % _S19_BUCKETS for k in updated} - count_drift
    got = {
        r["bucket"]: r for r in replica_checksum_audit(spark, sf_dir).collect()
    }
    assert set(got) == count_drift | content_only
    for b, r in got.items():
        if b in count_drift:
            assert r["status"] == "row_count_drift"
            assert r["n_primary"] > r["n_replica"]
        else:
            assert r["status"] == "content_drift"
            assert r["n_primary"] == r["n_replica"]
            assert r["checksum_primary"] != r["checksum_replica"]


def test_replica_checksum_is_incrementally_maintainable(spark, sf_dir):
    # The s19 doc's maintenance claim, pinned for BOTH folds: changing
    # ONE row moves a bucket's xor checksum by exactly
    # xor(old_hash) xor(new_hash), and its additive checksum by
    # (new_hash - old_hash) mod 2^61-1 — so a live table's audit state
    # updates per-delta without rescanning the bucket, and a full
    # recompute after the change must land on the
    # incrementally-predicted values.
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.pipeline.lifecycle import (
        _S19_BUCKETS,
        _S19_HV_SPARK,
        _S19_SUM,
        _s19_canon,
    )

    mersenne = 2305843009213693951
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    target = orders.select("o_orderkey").orderBy("o_orderkey").limit(1).collect()[0][0]

    def fold(df):
        hashed = df.select(
            F.expr(f"o_orderkey % {_S19_BUCKETS}").alias("bucket"),
            F.expr(f"md5({_s19_canon('o_totalprice')})").alias("h"),
        ).select("bucket", F.expr(_S19_HV_SPARK).alias("hv"))
        return {
            r["bucket"]: (r["x"], r["s"])
            for r in hashed.groupBy("bucket")
            .agg(
                F.expr("bit_xor(hv)").alias("x"),
                F.expr(_S19_SUM).alias("s"),
            )
            .collect()
        }

    before = fold(orders)
    changed = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == target, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    after = fold(changed)

    hv_pair = (
        orders.filter(F.col("o_orderkey") == target)
        .select(
            F.expr(f"o_orderkey % {_S19_BUCKETS}").alias("bucket"),
            F.expr(f"md5({_s19_canon('o_totalprice')})").alias("h_old"),
            F.expr(
                f"md5({_s19_canon('o_totalprice + 1.0')})"
            ).alias("h_new"),
        )
        .select(
            "bucket",
            F.expr(_S19_HV_SPARK.replace("h,", "h_old,")).alias("hv_old"),
            F.expr(_S19_HV_SPARK.replace("h,", "h_new,")).alias("hv_new"),
        )
        .collect()[0]
    )
    b = hv_pair["bucket"]
    predicted_x = before[b][0] ^ hv_pair["hv_old"] ^ hv_pair["hv_new"]
    predicted_s = (
        before[b][1] - hv_pair["hv_old"] + hv_pair["hv_new"]
    ) % mersenne
    assert after[b] == (predicted_x, predicted_s)
    for bucket, pair in before.items():  # every other bucket untouched
        if bucket != b:
            assert after[bucket] == pair


def test_bucket_scoped_repair_recovers_exactly_the_planted_rows(
    spark, sf_dir
):
    # Phase-2 of the audit must name precisely the planted damage:
    # every deleted key as missing_in_replica, every (non-deleted)
    # updated key as value_drift, nothing else.
    from mric_bak_etl_spark.pipeline.lifecycle import (
        _S19_DEL_MOD,
        _S19_UPD_MOD,
        bucket_scoped_repair,
    )

    keys = [
        r["o_orderkey"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    deleted = {k for k in keys if k % _S19_DEL_MOD == 0}
    updated = {k for k in keys if k % _S19_UPD_MOD == 0 and k not in deleted}
    got = {
        r["o_orderkey"]: r["status"]
        for r in bucket_scoped_repair(spark, sf_dir).collect()
    }
    assert got == {
        **{k: "missing_in_replica" for k in deleted},
        **{k: "value_drift" for k in updated},
    }


def test_benford_audit_is_a_consistent_distribution_report(spark, sf_dir):
    # dq11 structural invariants: digits are a subset of 1-9 plus the
    # digit-0 aggregate row, observed counts reconcile with the filtered
    # input, shares sum to ~1 (each share rounds to 6dp, so the sum may
    # be off by <= 9 * 5e-7), and every chi-square contribution is
    # non-negative. The aggregate row's statistic must equal the sum of
    # the per-digit terms (it is the same Pearson sum, computed in fixed
    # order), its count is the grand total, and it must flag at the
    # 8-dof critical value whenever any per-digit term alone exceeds it.
    # Detection property: TPC-H prices are ~uniform over a bounded
    # range, NOT Benford — the leading-digit mass sits far from
    # log10(2) on digit 1, so the audit must flag drift somewhere
    # (deterministic fixture, not a statistical accident).
    from pyspark.sql import functions as F  # noqa: PLC0415

    from mric_bak_etl_spark.pipeline.lifecycle import benford_drift

    rows = benford_drift(spark, sf_dir).collect()
    overall = [r for r in rows if r["digit"] == 0]
    per_digit = [r for r in rows if r["digit"] != 0]
    assert len(overall) == 1
    digits = [r["digit"] for r in per_digit]
    assert set(digits) <= set(range(1, 10))
    n_input = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 0)
        .count()
    )
    assert sum(r["n_orders"] for r in per_digit) == n_input
    assert abs(sum(r["share"] for r in per_digit) - 1.0) <= 9 * 5e-7
    assert all(r["chi2_term"] >= 0 for r in rows)
    assert any(r["digit_drift"] for r in per_digit)
    agg = overall[0]
    assert agg["n_orders"] == n_input
    assert agg["share"] is None and agg["expected_share"] is None
    chi2_total = sum(r["chi2_term"] for r in per_digit)
    assert abs(agg["chi2_term"] - chi2_total) <= 9 * 5e-7 * 10
    assert agg["digit_drift"] == (agg["chi2_term"] >= 15.507313055865453)


def test_cuped_reference_recompute_and_contract(spark, sf_dir):
    # Pure-Python recompute of e14's CUPED readout (exact integer sums,
    # the same double formulas) + the structural contract: the
    # unadjusted row matches a plain per-arm mean/z, theta is the
    # pooled cov/var ratio, and `significant` is |z| >= 1.96 on the
    # unrounded statistic.
    import math

    from mric_bak_etl_spark.operators.events import cuped_experiment

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "value")
        .selectExpr(
            "user_id",
            "unix_timestamp(ts) AS e",
            "CAST(round(value * 100) AS BIGINT) AS c",
        )
        .collect()
    )
    emin = min(r["e"] for r in rows)
    emax = max(r["e"] for r in rows)
    cutoff = int(math.floor((emin + emax) / 2.0))
    in_a = lambda u: ((u * 2654435761) % 2147483648) < 1073741824  # noqa: E731
    xs: dict[int, int] = {}
    ys: dict[int, int] = {}
    for r in rows:
        u = r["user_id"]
        xs.setdefault(u, 0)
        ys.setdefault(u, 0)
        if r["c"] is None:
            continue
        if r["e"] < cutoff:
            xs[u] += r["c"]
        else:
            ys[u] += r["c"]

    def arm_sums(pred):
        us = [u for u in xs if pred(u)]
        n = float(len(us))
        sx = float(sum(xs[u] for u in us))
        sy = float(sum(ys[u] for u in us))
        sxx = float(sum(xs[u] * xs[u] for u in us))
        syy = float(sum(ys[u] * ys[u] for u in us))
        sxy = float(sum(xs[u] * ys[u] for u in us))
        return n, sx, sy, sxx, syy, sxy

    na, sxa, sya, sxxa, syya, sxya = arm_sums(in_a)
    nb, sxb, syb, sxxb, syyb, sxyb = arm_sums(lambda u: not in_a(u))
    n = na + nb
    xb, yb = (sxa + sxb) / n, (sya + syb) / n
    varx = (sxxa + sxxb) / n - xb * xb
    theta = ((sxya + sxyb) / n - xb * yb) / varx if varx > 0 else 0.0
    ma, mb_ = sya / na, syb / nb
    mxa, mxb = sxa / na, sxb / nb
    madj_a = ma - theta * (mxa - xb)
    madj_b = mb_ - theta * (mxb - xb)
    vya = (syya / na - ma * ma) * (na / (na - 1))
    vyb = (syyb / nb - mb_ * mb_) * (nb / (nb - 1))
    vxa = (sxxa / na - mxa * mxa) * (na / (na - 1))
    vxb = (sxxb / nb - mxb * mxb) * (nb / (nb - 1))
    cva = (sxya / na - mxa * ma) * (na / (na - 1))
    cvb = (sxyb / nb - mxb * mb_) * (nb / (nb - 1))
    vadj_a = vya - 2 * theta * cva + theta * theta * vxa
    vadj_b = vyb - 2 * theta * cvb + theta * theta * vxb
    z_un = (ma - mb_) / math.sqrt(vya / na + vyb / nb)
    z_adj = (madj_a - madj_b) / math.sqrt(vadj_a / na + vadj_b / nb)

    # The statistical claim the operator exists to make (Deng et al.
    # 2013, Sec. 3.1): with theta the pooled OLS slope cov/var, the
    # POOLED adjusted variance is vy * (1 - rho^2) <= vy, equality only
    # when the pre-period carries no signal. The per-arm inequality
    # vadj_arm <= vy_arm is NOT guaranteed (and is false on this
    # fixture: arm b's 6 users have own slope -2.23 vs pooled +0.12, so
    # its adjusted variance rises ~9%) — an arm whose own X-Y slope
    # disagrees with the pooled one pays for the shared theta; what
    # CUPED guarantees, and what the z-test consumes, is the pooled
    # reduction plus the per-arm quadratic floor below.
    vy_pool = (syya + syyb) / n - yb * yb
    cov_pool = (sxya + sxyb) / n - xb * yb
    vadj_pool = vy_pool - theta * cov_pool  # = vy_pool - cov^2/varx
    assert vadj_pool <= vy_pool
    if cov_pool != 0:
        assert vadj_pool < vy_pool
    # Per-arm floor: for ANY theta, vadj_arm >= vy_arm - cov_arm^2 /
    # varx_arm (the arm's own-OLS minimum of the quadratic in theta).
    assert vadj_a >= vya - cva * cva / vxa - 1e-6 * vya
    assert vadj_b >= vyb - cvb * cvb / vxb - 1e-6 * vyb

    got = {r["metric"]: r for r in cuped_experiment(spark, sf_dir).collect()}
    assert set(got) == {"avg_user_value", "avg_user_value_cuped"}
    un, adj = got["avg_user_value"], got["avg_user_value_cuped"]
    assert (un["n_a"], un["n_b"]) == (int(na), int(nb))
    assert abs(un["z_score"] - z_un) <= 5.1e-5
    assert abs(adj["z_score"] - z_adj) <= 5.1e-5
    assert abs(adj["theta"] - theta) <= 5.1e-7
    assert abs(adj["mean_a"] - madj_a / 100) <= 5.1e-5
    assert un["significant"] == (abs(z_un) >= 1.96)
    assert adj["significant"] == (abs(z_adj) >= 1.96)


def test_srm_check_matches_pure_python_chi_square(spark, sf_dir):
    # e15 recompute: per-segment and overall arm counts from the same
    # deterministic hash, the same fixed-order chi-square formula — and
    # the structural contract that srm_flag is exactly chi2 >= the
    # 1-dof 95% critical value evaluated on the UNROUNDED statistic.
    from mric_bak_etl_spark.operators.events import srm_check

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    in_a = lambda u: ((u * 2654435761) % 2147483648) < 1073741824  # noqa: E731
    segs: dict[str, set[int]] = {}
    for r in rows:
        segs.setdefault(r["event_type"], set()).add(r["user_id"])
    segs["ALL"] = set().union(*segs.values())

    got = {r["segment"]: r for r in srm_check(spark, sf_dir).collect()}
    assert set(got) == set(segs)
    for seg, users in segs.items():
        na = float(sum(1 for u in users if in_a(u)))
        nb = float(len(users)) - na
        h = (na + nb) / 2
        chi2 = (na - h) * (na - h) / h + (nb - h) * (nb - h) / h
        r = got[seg]
        assert (r["n_a"], r["n_b"]) == (int(na), int(nb))
        assert r["n_users"] == len(users)
        assert abs(r["chi2"] - chi2) <= 5.1e-7
        assert r["srm_flag"] == (chi2 >= 3.841458820694124)


# --- BMP container property (m7's codec core) -------------------------------
# The fixed m7 fixtures pin one spec-valid layout; this property sweeps the
# container space the decoder claims to accept — arbitrary pixel sources,
# widths crossing every 4-byte-padding residue, top-down (negative height)
# rows, spec-legal biSizeImage=0, and color-profile gaps between header and
# pixels (offset > 54) — and then asserts every single-field corruption of
# the same file is rejected LOUDLY (ValueError for lying geometry,
# NotImplementedError for unsupported depth), never decoded into wrong
# metadata. Pure Python bytes math: no Spark action per example, so this
# grammar is budget-free.

BMP_CASES = st.fixed_dictionaries(
    {
        "width": st.integers(min_value=1, max_value=41),
        "height": st.integers(min_value=1, max_value=17),
        "src": st.binary(min_size=0, max_size=64),
        "gap": st.integers(min_value=0, max_value=13),
        "topdown": st.booleans(),
        "zero_size": st.booleans(),
    }
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=BMP_CASES)
def test_bmp_decode_accepts_spec_space_rejects_corruption(case):
    import struct

    import pytest

    from mric_bak_etl_spark.llm.multimodal import (
        bmp_channel_sums,
        decode_media,
        make_bmp,
    )

    width, height, gap = case["width"], case["height"], case["gap"]
    stride = (width * 3 + 3) // 4 * 4
    isize = stride * height
    bmp = bytearray(make_bmp(case["src"], width, height))
    if gap:
        # color-profile/palette block between header and pixel array:
        # spec-legal as long as offset and file_size account for it.
        bmp = bytearray(bytes(bmp[:54]) + b"\x7f" * gap + bytes(bmp[54:]))
        struct.pack_into("<I", bmp, 2, 54 + gap + isize)  # bfSize
        struct.pack_into("<I", bmp, 10, 54 + gap)  # bfOffBits
    if case["topdown"]:
        struct.pack_into("<i", bmp, 22, -height)  # top-down row order
    if case["zero_size"]:
        struct.pack_into("<I", bmp, 34, 0)  # biSizeImage=0, legal for BI_RGB

    good = bytes(bmp)
    assert decode_media(good, "image") == {
        "width": width,
        "height": height,
        "bpp": 24,
        "image_size": isize,
        "file_size": 54 + gap + isize,
        "offset": 54 + gap,
        "row_stride": stride,
        "top_down": case["topdown"],
    }
    # The m8 channel-sum consumer slices at the DECODER's offset/stride,
    # so a color-profile gap or top-down row order must not move the
    # sums: they always equal the closed-form sums over the source bytes
    # cycled into the w*h*3 pixel array (round-9 verdict coupling fix).
    need = width * height * 3
    src = case["src"]
    flat = (src * (need // max(len(src), 1) + 1))[:need] if src else bytes(need)
    assert bmp_channel_sums(good) == (
        width * height,
        sum(flat[0::3]),
        sum(flat[1::3]),
        sum(flat[2::3]),
    )

    def corrupt(offset: int, fmt: str, value) -> bytes:
        b = bytearray(good)
        struct.pack_into(fmt, b, offset, value)
        return bytes(b)

    mutations = [
        good[:-1],  # truncated pixel array
        good + b"\x00",  # trailing junk beyond declared size
        corrupt(2, "<I", 54 + gap + isize + 1),  # bfSize lies by one
        corrupt(10, "<I", 53),  # pixel offset inside the headers
        corrupt(18, "<i", 0),  # degenerate width
        corrupt(18, "<i", -width),  # negative width
        corrupt(22, "<i", 0),  # degenerate height
        corrupt(34, "<I", isize + stride),  # biSizeImage ≠ geometry
        corrupt(28, "<H", 16),  # unsupported depth → missing codec
        corrupt(30, "<I", 1),  # RLE compression → missing codec
    ]
    for blob in mutations:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_media(blob, "image")


# --- WAV container property (m9's codec core) -------------------------------
# The BMP grammar's discipline for the audio codec: sweep the container
# space the decoder claims to accept — mono/stereo/3-channel, zero-frame
# data, fmt-extension tails (cbSize), JUNK chunks between fmt and data
# (odd sizes exercising the RIFF pad byte) — assert the decoded layout AND
# that the channel sums always equal the closed-form sums over the cycled
# source bytes (the decoder-owned offset/stride contract), then assert
# every single-field corruption is rejected LOUDLY (ValueError for lying
# sizes/geometry, NotImplementedError for non-PCM/non-16-bit). Pure Python
# bytes math: budget-free.

WAV_CASES = st.fixed_dictionaries(
    {
        "nch": st.integers(min_value=1, max_value=3),
        "nfr": st.integers(min_value=0, max_value=17),
        "src": st.binary(min_size=0, max_size=64),
        "rate": st.sampled_from([8000, 11025, 44100]),
        "gap": st.integers(min_value=0, max_value=13),
        "fmt_ext": st.booleans(),
    }
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=WAV_CASES)
def test_wav_decode_accepts_spec_space_rejects_corruption(case):
    import struct

    import pytest

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_wav,
        wav_channel_sums,
    )

    nch, nfr, rate, gap = case["nch"], case["nfr"], case["rate"], case["gap"]
    block = nch * 2
    dsize = nfr * block
    wav = bytearray(make_wav(case["src"], nch, nfr, rate))
    data_off = 44
    if case["fmt_ext"]:
        # WAVEFORMATEX cbSize=0 tail: fmt chunk of 18 bytes, spec-common.
        wav = bytearray(bytes(wav[:36]) + b"\x00\x00" + bytes(wav[36:]))
        struct.pack_into("<I", wav, 16, 18)
        data_off += 2
    if gap:
        # JUNK chunk between fmt and data; odd sizes take a pad byte.
        pad = gap & 1
        junk = b"JUNK" + struct.pack("<I", gap) + b"\x7f" * gap + b"\x00" * pad
        wav = bytearray(
            bytes(wav[: data_off - 8]) + junk + bytes(wav[data_off - 8 :])
        )
        data_off += len(junk)
    struct.pack_into("<I", wav, 4, len(wav) - 8)  # re-seal RIFF size

    good = bytes(wav)
    assert decode_media(good, "audio") == {
        "n_channels": nch,
        "sample_rate": rate,
        "bits_per_sample": 16,
        "n_frames": nfr,
        "block_align": block,
        "byte_rate": rate * block,
        "data_offset": data_off,
        "data_size": dsize,
    }
    # Channel sums from the decoder's layout == closed-form over the
    # cycled source bytes, chunk gaps and fmt tails notwithstanding.
    src = case["src"]
    flat = (
        (src * (dsize // max(len(src), 1) + 1))[:dsize] if src else bytes(dsize)
    )
    vals = struct.unpack(f"<{nfr * nch}h", flat)
    assert wav_channel_sums(good) == [sum(vals[c::nch]) for c in range(nch)]

    def corrupt(offset: int, fmt: str, value) -> bytes:
        b = bytearray(good)
        struct.pack_into(fmt, b, offset, value)
        return bytes(b)

    fmt_body = 20  # fmt chunk body starts at 20 in every layout above
    mutations = [
        good[:-1],  # truncated (RIFF size or a chunk size now lies)
        good + b"\x00",  # trailing junk beyond RIFF size
        corrupt(4, "<I", len(good) - 7),  # RIFF size lies by one
        corrupt(fmt_body + 2, "<H", 0),  # degenerate channel count
        corrupt(fmt_body + 12, "<H", block + 1),  # block_align lies
        corrupt(fmt_body + 8, "<I", rate * block + 2),  # byte_rate lies
        corrupt(16, "<I", 15),  # fmt chunk too short
        corrupt(fmt_body, "<H", 3),  # IEEE float → missing codec
        corrupt(fmt_body + 14, "<H", 8),  # 8-bit → missing codec
        good[:12],  # no chunks at all (missing fmt/data)
    ]
    for blob in mutations:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_media(blob, "audio")


# --- PPM container property (m11's codec core) -------------------------------
# The third parsing family: ASCII-tokenized headers. Sweep the accept
# space the decoder claims — arbitrary whitespace runs between tokens,
# `#` comments anywhere whitespace is legal, any of the four separator
# bytes before the raster — assert the decoded layout AND that the
# channel sums from the decoder's offset equal the closed form over the
# cycled source bytes, then assert every malformation is rejected LOUDLY
# (ValueError for corrupt headers/rasters, NotImplementedError for
# two-byte samples). Pure Python bytes math: budget-free.

PPM_CASES = st.fixed_dictionaries(
    {
        "w": st.integers(min_value=1, max_value=17),
        "h": st.integers(min_value=1, max_value=9),
        "src": st.binary(min_size=0, max_size=64),
        "ws1": st.sampled_from([b"\n", b" ", b"\t", b"\r\n", b"  \n"]),
        "ws2": st.sampled_from([b" ", b"\n", b"\t\t", b" \r "]),
        "sep": st.sampled_from([b"\n", b" ", b"\t", b"\r"]),
        "comment": st.sampled_from([None, b"synthetic", b" 12 9 "]),
    }
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=PPM_CASES)
def test_ppm_decode_accepts_spec_space_rejects_corruption(case):
    import pytest

    from mric_bak_etl_spark.llm.multimodal import (
        _cycle_bytes,
        decode_media,
        ppm_channel_sums,
    )

    w, h, src = case["w"], case["h"], case["src"]
    dsize = w * h * 3
    comment = b"#" + case["comment"] + b"\n" if case["comment"] else b""
    header = (
        b"P6" + case["ws1"] + comment + str(w).encode() + case["ws2"]
        + str(h).encode() + case["ws1"] + b"255" + case["sep"]
    )
    raster = _cycle_bytes(src, dsize)
    good = header + raster

    dec = decode_media(good, "image")
    assert dec == {
        "width": w,
        "height": h,
        "maxval": 255,
        "n_pixels": w * h,
        "data_offset": len(header),
        "data_size": dsize,
    }
    # Channel sums from the decoder's offset == closed form over the
    # cycled source bytes, comments and whitespace runs notwithstanding.
    assert ppm_channel_sums(good, dec) == (
        w * h,
        sum(raster[0::3]),
        sum(raster[1::3]),
        sum(raster[2::3]),
    )

    def header_variant(**kv) -> bytes:
        vals = {"w": str(w).encode(), "h": str(h).encode(), "mv": b"255"}
        vals.update(kv)
        return (
            b"P6\n" + vals["w"] + b" " + vals["h"] + b"\n" + vals["mv"]
            + b"\n" + raster
        )

    mutations = [
        b"P5" + good[2:],  # wrong magic (P5 is greyscale, not P6)
        b"P6" + str(w).encode() + good[2 + len(case["ws1"]) :],  # no ws after magic
        good[:-1],  # truncated raster
        good + b"\x00",  # trailing byte beyond geometry
        header_variant(w=b"0"),  # degenerate width
        header_variant(h=b"0"),  # degenerate height
        header_variant(mv=b"0"),  # maxval below 1
        header_variant(mv=b"65536"),  # maxval above spec ceiling
        header[:-1],  # header runs into EOF
        b"P6\n# unterminated comment",  # comment never closed
        b"P6\n" + str(w).encode() + b" " + str(h).encode() + b"\n",  # no maxval
    ]
    for blob in mutations:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_media(blob, "image")
    # Two-byte samples: a MISSING CODEC, distinct from corruption.
    with pytest.raises(NotImplementedError):
        decode_media(
            b"P6\n1 1\n65535\n" + bytes(6), "image"
        )


def test_media_builder_edge_contracts():
    """r10 ADVICE hardening: the error faces the builders/consumers owe.

    - a bare b'P6' names the TRUNCATION (b'' is vacuously 'in' the
      whitespace set, so without the guard it fell through to a
      misleading header-token error);
    - make_ppm rejects comments whose line break would terminate the
      comment early and inject stray header tokens;
    - wav_window_stats rejects win_frames < 1 loudly instead of a bare
      range() error (0) or silently emitting no windows (negative).
    """
    import pytest

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_ppm,
        make_wav,
        wav_window_stats,
    )

    with pytest.raises(ValueError, match="truncated after magic"):
        decode_media(b"P6", "image")

    with pytest.raises(ValueError, match="line breaks"):
        make_ppm(b"xyz", 2, 2, comment="evil\n9 9")
    with pytest.raises(ValueError, match="line breaks"):
        make_ppm(b"xyz", 2, 2, comment="evil\r")

    wav = make_wav(b"abc", 1, 4, 8000)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="win_frames"):
            wav_window_stats(wav, win_frames=bad)
    # The valid face is unchanged: one full window of 4 frames.
    assert [r[2] for r in wav_window_stats(wav, win_frames=4)] == [4]


# --- ZIP container property (m12's codec core) -------------------------------
# The BMP/WAV/PPM discipline for the archive codec: sweep the container
# space the decoder claims to accept — 0..4 stored entries, arbitrary
# payloads, self-extracting junk prefixes, EOCD comments — assert the
# decoded manifest AND the per-entry byte sums against the raw payloads
# (the decoder-owned offset contract), interop BOTH directions with
# stdlib zipfile (our writer's archives must open there; zipfile-written
# archives must decode here), then assert every corruption is rejected
# LOUDLY (ValueError for lying sizes/counts/CRC/truncation,
# NotImplementedError for compressed/encrypted/multi-disk). Pure Python
# bytes math: budget-free.

ZIP_CASES = st.fixed_dictionaries(
    {
        "payloads": st.lists(
            st.binary(min_size=0, max_size=40), min_size=0, max_size=4
        ),
        "src": st.binary(min_size=0, max_size=48),
        "prefix": st.integers(min_value=0, max_value=9),
        "comment": st.binary(min_size=0, max_size=12).filter(
            lambda c: b"PK" not in c
        ),
        # per-archive method: all stored, all deflated, or alternating —
        # the sums/interop assertions below are method-INVARIANT, which
        # is exactly the m13 contract (the oracle never sees the stream)
        "method_mode": st.sampled_from(["stored", "deflate", "mixed"]),
    }
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=ZIP_CASES)
def test_zip_decode_accepts_spec_space_rejects_corruption(case):
    import io
    import struct
    import zipfile

    import pytest

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_zip,
        zip_entry_byte_sums,
    )

    src, lens = case["src"], [len(p) for p in case["payloads"]]
    prefix = b"\xfe" * case["prefix"]
    methods = {
        "stored": [0] * len(lens),
        "deflate": [8] * len(lens),
        "mixed": [(i % 2) * 8 for i in range(len(lens))],
    }[case["method_mode"]]
    good = make_zip(
        src, lens, prefix=prefix, comment=case["comment"], methods=methods
    )

    dec = decode_media(good, "archive")
    assert dec["n_entries"] == len(lens)
    assert dec["prefix_len"] == len(prefix)
    assert [e["method"] for e in dec["entries"]] == methods
    # Manifest + sums from the decoder's layout == closed-form over the
    # rotated cycled source bytes, prefix/comment notwithstanding.
    sums = zip_entry_byte_sums(good, dec)
    for i, ln in enumerate(lens):
        assert dec["entries"][i]["name"] == f"e{i}.bin"
        want = (
            sum(src[(j + i) % len(src)] for j in range(ln)) if src else 0
        )
        assert sums[i] == (ln, want)

    # Interop out: stdlib zipfile opens our archives and agrees.
    with zipfile.ZipFile(io.BytesIO(good)) as zf:
        assert zf.namelist() == [f"e{i}.bin" for i in range(len(lens))]
        assert zf.testzip() is None
        for i, ln in enumerate(lens):
            payload = zf.read(f"e{i}.bin")
            assert len(payload) == ln and sum(payload) == sums[i][1]

    # Interop in: zipfile-written STORED archives decode here.
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for i, payload in enumerate(case["payloads"]):
            zf.writestr(f"p{i}.dat", payload)
    theirs = decode_media(buf.getvalue(), "archive")
    assert [e["name"] for e in theirs["entries"]] == [
        f"p{i}.dat" for i in range(len(case["payloads"]))
    ]
    assert [s for _, s in zip_entry_byte_sums(buf.getvalue(), theirs)] == [
        sum(p) for p in case["payloads"]
    ]

    def corrupt(*patches) -> bytes:
        b = bytearray(good)
        for offset, fmt, value in patches:
            struct.pack_into(fmt, b, offset, value)
        return bytes(b)

    eocd = len(good) - len(case["comment"]) - 22  # EOCD record position
    cd_size = eocd - dec["cd_offset"]
    mutations = [
        good[:-1],  # truncated EOCD (comment length no longer seals)
        good + b"\x00",  # trailing byte beyond the EOCD comment
        # entry count lies high (both disk-count fields, else the
        # mismatch trips the multi-disk gate before the lie matters)
        corrupt((eocd + 8, "<H", len(lens) + 1),
                (eocd + 10, "<H", len(lens) + 1)),
        corrupt((eocd + 12, "<I", cd_size + 4)),  # cd_size lies
        corrupt((eocd + 16, "<I", dec["cd_offset"] + 1)),  # offset past actual
    ]
    if lens:
        cd = dec["cd_offset"]
        first_local = dec["prefix_len"]
        e0 = dec["entries"][0]
        mutations += [
            # method flipped to the OTHER real method: a stored payload
            # read as deflate is a garbled stream; a deflate stream read
            # as stored has disagreeing sizes (or a CRC over raw bytes)
            corrupt((cd + 10, "<H", 8 - e0["method"])),
            corrupt((cd + 10, "<H", 12)),  # bzip2 → missing codec
            corrupt((cd + 8, "<H", 1)),  # encrypted → missing codec
            corrupt((cd + 16, "<I", 0xDEADBEEF)),  # CRC lies
            # comp_size lies by one: stored → sizes disagree; deflate →
            # the stream no longer seals its declared bytes
            corrupt((cd + 20, "<I", e0["comp_size"] + 1)),
            corrupt((first_local, "<I", 0x02014B50)),  # local sig wrong
        ]
        if len(lens) > 1:
            # count lies low → the directory walk stops short of the EOCD
            mutations.append(
                corrupt((eocd + 8, "<H", len(lens) - 1),
                        (eocd + 10, "<H", len(lens) - 1))
            )
    for blob in mutations:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_media(blob, "archive")


# --- ZIP interop fuzz: INDEPENDENT producer (r11 verdict task 6) ------------
# Grammar 19 sweeps our own packer's mutation space; this arm fuzzes the
# decoder against archives GENERATED BY STDLIB ZIPFILE — entry counts,
# sizes, per-entry methods, entry comments, archive comments, non-ASCII
# (UTF-8-flagged) names, and the streamed (data-descriptor / flag-bit-3)
# writer path — so acceptance is pinned to the spec as another
# implementation reads it, not to our packer's dialect of it.

ZIPFILE_CASES = st.fixed_dictionaries(
    {
        "payloads": st.lists(
            st.binary(min_size=0, max_size=60), min_size=0, max_size=5
        ),
        "methods": st.lists(
            st.sampled_from(["stored", "deflate"]), min_size=5, max_size=5
        ),
        "archive_comment": st.binary(min_size=0, max_size=20).filter(
            lambda c: b"PK" not in c
        ),
        "entry_comment": st.binary(min_size=0, max_size=10).filter(
            lambda c: b"PK" not in c
        ),
        "utf8_names": st.booleans(),
        "streamed": st.booleans(),
    }
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=ZIPFILE_CASES)
def test_zip_decoder_against_zipfile_generated_archives(case):
    import io
    import zipfile

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        zip_entry_byte_sums,
    )

    methods = {
        "stored": zipfile.ZIP_STORED,
        "deflate": zipfile.ZIP_DEFLATED,
    }
    names = [
        (f"café-{i}.dat" if case["utf8_names"] else f"p{i}.dat")
        for i in range(len(case["payloads"]))
    ]

    if case["streamed"]:
        # Non-seekable sink: zipfile zeroes the local sizes and appends
        # data descriptors (flag bit 3) — the central directory still
        # carries the truth, which is what the decoder walks.
        class _Unseekable(io.RawIOBase):
            def __init__(self):
                self.buf = io.BytesIO()

            def writable(self):
                return True

            def write(self, b):
                return self.buf.write(b)

            def seekable(self):
                return False

        sink = _Unseekable()
    else:
        sink = io.BytesIO()
    with zipfile.ZipFile(sink, "w") as zf:
        zf.comment = case["archive_comment"]
        for i, payload in enumerate(case["payloads"]):
            zf.writestr(
                zipfile.ZipInfo(names[i]),
                payload,
                compress_type=methods[case["methods"][i]],
            )
            zf.getinfo(names[i]).comment = case["entry_comment"]
    blob = (sink.buf if case["streamed"] else sink).getvalue()

    dec = decode_media(blob, "archive")
    assert dec["n_entries"] == len(case["payloads"])
    assert dec["prefix_len"] == 0
    assert [e["name"] for e in dec["entries"]] == names
    want_methods = [
        methods[case["methods"][i]] for i in range(len(case["payloads"]))
    ]
    assert [e["method"] for e in dec["entries"]] == want_methods
    assert zip_entry_byte_sums(blob, dec) == [
        (len(p), sum(p)) for p in case["payloads"]
    ]
