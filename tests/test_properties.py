"""Property-based tests (hypothesis) for the scalar cleaning functions —
the invariants that must hold for ANY input, not just the fixture rows.

Each property draws a BATCH of values per example and evaluates the
column expression once over a single small DataFrame (Spark session
round-trips dominate, so examples are batched and max_examples kept
low; the value count per example is what gives coverage).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fastetl_spark.functions.cpf import cpf_clean, cpf_is_valid
from fastetl_spark.operators.copy import slugify_column

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _python_cpf_digits(base9: str) -> str:
    """Independent reference implementation of the public mod-11 rule."""
    s1 = sum(int(d) * (10 - i) for i, d in enumerate(base9))
    dv1 = (s1 * 10) % 11 % 10
    s2 = sum(int(d) * (11 - i) for i, d in enumerate(base9)) + dv1 * 2
    dv2 = (s2 * 10) % 11 % 10
    return f"{dv1}{dv2}"


@given(st.lists(st.text(st.characters(codec="utf-8"), max_size=30), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_slugify_idempotent_and_charset(spark, names):
    slugs = [slugify_column(n) for n in names]
    for s in slugs:
        assert re.fullmatch(r"[a-z0-9_]*", s), s
        assert not s.startswith("_") and not s.endswith("_")
        assert slugify_column(s) == s  # idempotent


@given(st.lists(st.integers(min_value=0, max_value=999_999_999), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_cpf_valid_constructions_accepted(spark, bases):
    rows = []
    for b in bases:
        base9 = f"{b:09d}"
        if base9 == base9[0] * 9:
            continue  # all-same-digit is rejected by design
        rows.append((base9 + _python_cpf_digits(base9),))
    if not rows:
        return
    df = spark.createDataFrame(rows, "cpf string")
    out = df.select(cpf_is_valid("cpf").alias("ok"), cpf_clean("cpf").alias("c")).collect()
    for (inp,), r in zip(rows, out):
        # every correctly-constructed CPF must validate, except the
        # all-same-digit degenerate (filtered above)
        assert r["ok"] is True, inp
        assert r["c"] == inp


@given(
    st.lists(st.integers(min_value=0, max_value=999_999_999), min_size=1, max_size=30),
    st.integers(min_value=0, max_value=10),
)
@settings(**SETTINGS)
def test_cpf_corrupted_check_digit_rejected(spark, bases, bump):
    rows = []
    for b in bases:
        base9 = f"{b:09d}"
        if base9 == base9[0] * 9:
            continue
        good = _python_cpf_digits(base9)
        bad = f"{(int(good) + bump) % 100:02d}"
        if bad == good:
            continue
        rows.append((base9 + bad,))
    if not rows:
        return
    df = spark.createDataFrame(rows, "cpf string")
    out = df.select(cpf_is_valid("cpf").alias("ok"), cpf_clean("cpf").alias("c")).collect()
    for (inp,), r in zip(rows, out):
        assert r["ok"] is False, inp
        assert r["c"] is None


@given(
    st.lists(
        st.decimals(
            min_value=-10_000_000, max_value=10_000_000, places=6, allow_nan=False
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_decimal_comma_roundtrip(spark, values):
    from fastetl_spark.functions.cleaning import fix_decimal_comma

    rows = [(str(v).replace(".", ","),) for v in values]
    df = spark.createDataFrame(rows, "raw string")
    out = df.select(fix_decimal_comma("raw").alias("v")).collect()
    for v, r in zip(values, out):
        assert r["v"] == float(v), (v, r["v"])


@given(st.lists(st.text(max_size=40), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_decimal_comma_garbage_is_null_not_error(spark, raws):
    from fastetl_spark.functions.cleaning import fix_decimal_comma

    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    out = df.select(fix_decimal_comma("raw").alias("v")).collect()
    # Spark's string->double cast trims like java.lang.String.trim():
    # EVERY leading/trailing char <= U+0020 (controls included — found
    # by hypothesis with '0\x08'), where Python's float() only accepts
    # whitespace; model the Java trim before building the expectation
    java_ws = "".join(chr(c) for c in range(0x21))
    for raw, r in zip(raws, out):
        # ANSI mode must never throw; unparseable input maps to NULL
        try:
            expected = float(raw.strip(java_ws).replace(",", "."))
        except ValueError:
            expected = None
        if expected is not None and expected != expected:  # NaN literals
            return
        assert r["v"] == expected or (r["v"] is None and expected is None)


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=100))
@settings(**SETTINGS)
def test_hash_bucket_range_and_layout_stability(spark, keys):
    from fastetl_spark.operators.sampling import hash_bucket

    df = spark.createDataFrame([(k,) for k in set(keys)], "k long")
    a = {r["k"]: r["b"] for r in df.select("k", hash_bucket("k").alias("b")).collect()}
    b = {
        r["k"]: r["b"]
        for r in df.repartition(7).select("k", hash_bucket("k").alias("b")).collect()
    }
    assert a == b  # layout-independent
    assert all(0 <= v < 100 for v in a.values())


@given(st.lists(st.text(alphabet=" abc\t\n", max_size=30), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_normalize_text_idempotent(spark, texts):
    from fastetl_spark.operators.dedup import normalize_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        normalize_text(F.col("t")).alias("once"),
        normalize_text(normalize_text(F.col("t"))).alias("twice"),
    ).collect()
    for r in out:
        assert r["once"] == r["twice"]
        assert "  " not in r["once"]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_table_checksum_order_and_layout_invariant(spark, rows):
    from fastetl_spark.operators.sync import table_checksum

    df = spark.createDataFrame(rows, "k long, s string")
    a = {
        r["bucket"]: (r["n_rows"], r["checksum"])
        for r in table_checksum(df, "k", ["k", "s"], bucket_width=1000).collect()
    }
    shuffled = df.repartition(5).sortWithinPartitions("s")
    b = {
        r["bucket"]: (r["n_rows"], r["checksum"])
        for r in table_checksum(shuffled, "k", ["k", "s"], bucket_width=1000).collect()
    }
    assert a == b  # XOR fold is row-order and partitioning independent


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["x", "y"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([1, 3, 16]),
)
@settings(**SETTINGS)
def test_salted_agg_equals_plain_agg(spark, rows, salt_n):
    from pyspark.sql import functions as F

    from fastetl_spark.operators.partitioning import salted_agg

    df = spark.createDataFrame(rows, "id long, k string, v long").withColumn(
        "__val", F.col("v").cast("decimal(18,2)")
    )
    salted = {
        r["k"]: (r["n"], r["total"])
        for r in salted_agg(df, "k", "id", "__val", salt_n=salt_n).collect()
    }
    plain = {
        r["k"]: (r["n"], r["total"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__val").alias("total"))
        .collect()
    }
    assert salted == plain  # any salt width, same exact answer


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(-100, 100)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_validate_split_is_a_partition(spark, rows):
    from pyspark.sql import functions as F

    from fastetl_spark.plans.quarantine import validate_split

    df = spark.createDataFrame(rows, "id long, v long")
    valid, rejects = validate_split(
        df, [("pos", F.col("v") > 0), ("even", F.col("v") % 2 == 0)]
    )
    v_ids = {r["id"] for r in valid.collect()}
    r_ids = {r["id"] for r in rejects.collect()}
    assert v_ids | r_ids == {r[0] for r in rows}
    assert not (v_ids & r_ids)


@pytest.mark.slow  # full gate only: the same partial==full merge equivalence runs in the default profile via test_bucketed's merge tests + the upsert/cdc oracle gates; this adds the randomized sweep
@given(
    st.data(),
)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_partial_merge_equals_full_merge_property(spark, tmp_path_factory, data):
    """For ANY (base, increment, deletions) drawn over a small key
    space, the bucketed partial merge must equal the full-frame
    merge_upsert + delete_sync composition — including increments with
    brand-new keys, deletions of absent keys, and empty feeds."""
    from fastetl_spark.io.bucketed import partial_merge, read_bucketed, write_bucketed
    from fastetl_spark.operators.sync import delete_sync, merge_upsert

    keyspace = list(range(20))
    base_keys = data.draw(st.sets(st.sampled_from(keyspace), min_size=1))
    inc_keys = data.draw(st.sets(st.sampled_from(keyspace)))
    del_keys = data.draw(st.sets(st.sampled_from(keyspace)))

    dest = str(tmp_path_factory.mktemp("pm") / "dest")
    base = spark.createDataFrame([(k, f"b{k}") for k in sorted(base_keys)], "id long, v string")
    inc = spark.createDataFrame(
        [(k, f"i{k}") for k in sorted(inc_keys)], "id long, v string"
    )
    dels = spark.createDataFrame([(k,) for k in sorted(del_keys)], "id long")

    write_bucketed(base, dest, ["id"], 4)
    partial_merge(spark, dest, inc, deleted_keys=dels)

    got = sorted(tuple(r) for r in read_bucketed(spark, dest).collect())
    expected_df = delete_sync(merge_upsert(base, inc, ["id"]), dels, ["id"])
    expected = sorted(tuple(r) for r in expected_df.collect())
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                           min_value=-1e6, max_value=1e6)),
        ),
        min_size=1,
        max_size=80,
    ),
    st.integers(min_value=-50, max_value=50),
)
@settings(**SETTINGS)
def test_expectations_report_matches_python_recount(spark, rows, threshold):
    """For ANY data and ANY threshold rule set, the single-scan report's
    violation counts equal a plain Python recount (NULL = violation)."""
    from pyspark.sql import functions as F

    from fastetl_spark.plans.expectations import expectations_report

    df = spark.createDataFrame(rows, "k int, v double")
    rules = [
        ("v_above", F.col("v") > float(threshold)),
        ("k_nonneg", F.col("k") >= 0),
        ("v_not_null", F.col("v").isNotNull()),
    ]
    rep = {r.rule: r.n_violations for r in expectations_report(df, rules).collect()}
    assert rep["v_above"] == sum(1 for _, v in rows if v is None or not v > threshold)
    assert rep["k_nonneg"] == sum(1 for k, _ in rows if not k >= 0)
    assert rep["v_not_null"] == sum(1 for _, v in rows if v is None)


@given(
    st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=1000),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(**SETTINGS)
def test_v2_merge_history_and_rollback_agree_with_python_model(
    spark, tmp_path_factory, increments
):
    """Apply a random sequence of keyed upsert increments to a v2
    bucketed destination; at every point the destination equals a plain
    Python dict model, and rolling back one generation equals the
    model one step earlier."""
    from fastetl_spark.io.bucketed import (
        partial_merge,
        read_bucketed,
        rollback_bucketed,
        write_bucketed,
    )

    dest = str(tmp_path_factory.mktemp("prop") / "dest")
    model: dict[int, int] = {0: 0}
    write_bucketed(
        spark.createDataFrame([(0, 0)], "id long, v long"), dest, ["id"], 4, keep_gens=10
    )
    states = [dict(model)]
    for inc in increments:
        model.update(inc)
        partial_merge(
            spark, dest,
            spark.createDataFrame(list(inc.items()), "id long, v long"),
        )
        states.append(dict(model))
        got = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
        assert got == model

    if len(states) >= 2:
        rollback_bucketed(spark, dest)
        got = {r.id: r.v for r in read_bucketed(spark, dest).collect()}
        assert got == states[-2]


def _python_url_normalize(url: str) -> str:
    """Independent reference of the two-rule tracking-param strip."""
    u = re.sub(r"#.*$", "", url)
    u = re.sub(r"&(utm_[a-z]+|fbclid|gclid)=[^&#]*", "", u)
    u = re.sub(r"\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "?", u)
    u = re.sub(r"[?&]+$", "", u)
    m = re.match(r"^(https?://[^/]+)", u)
    host = m.group(1).lower() if m else ""
    rest = re.sub(r"^https?://[^/]+", "", u)
    return host + rest


_PARAM_KEY = st.one_of(
    st.sampled_from(["utm_source", "utm_medium", "utm_x", "fbclid", "gclid"]),
    st.text(st.characters(categories=["Ll"]), min_size=1, max_size=6),
)


@given(
    st.lists(
        st.tuples(
            st.lists(
                st.tuples(_PARAM_KEY, st.text(st.characters(categories=["Ll", "Nd"]), max_size=5)),
                max_size=5,
            ),
            st.booleans(),  # append a #fragment
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_url_normalize_matches_python_reference(spark, specs):
    """Tracking params in ANY position (first, middle, last, repeated,
    adjacent) must strip exactly like the reference implementation —
    the round-4 ADVICE defect class ('?a=1&utm_x=2&b=3' corruption)
    can never come back."""
    import pyspark.sql.functions as F

    from fastetl_spark.operators.text3 import url_normalize

    urls = []
    for params, frag in specs:
        qs = "&".join(f"{k}={v}" for k, v in params)
        u = "https://WWW.Example.COM/Path" + (f"?{qs}" if qs else "")
        if frag:
            u += "#frag"
        urls.append(u)
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r[0] for r in df.select(url_normalize(F.col("url"))).collect()]
    want = [_python_url_normalize(u) for u in urls]
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1200),
            st.integers(min_value=0, max_value=1200),
        ),
        min_size=2,
        max_size=40,
    ),
    st.sampled_from([17, 64, 150, 300, 500]),
)
@settings(**SETTINGS)
def test_grid_join_equals_brute_force(spark, coords, r):
    """Grid-binned neighbor join == the all-pairs spec for ANY point set
    and ANY radius (including r > the gated query's 256 — the review
    regression), with no duplicate pairs."""
    from fastetl_spark.operators.spatial import grid_neighbor_pairs

    rows = [(i, x, y) for i, (x, y) in enumerate(coords)]
    pts = spark.createDataFrame(rows, "user_id long, x long, y long")
    got = [(p.u, p.v, p.dist2) for p in grid_neighbor_pairs(pts, r=r).collect()]
    assert len(got) == len(set(got))
    want = {
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for a, xa, ya in rows
        for b, xb, yb in rows
        if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    }
    assert set(got) == want
