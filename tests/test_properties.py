"""Property-based tests (hypothesis) for the engine's contract-bearing
operators.  Each property batches its generated examples into ONE
DataFrame so a hypothesis run costs one Spark job, not one per example."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.functions.cleaning import clean_text
from proyecto_gasto_publico_etl_per__spark.operators.star import new_dim_rows

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_strategy = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),  # no surrogates (invalid UTF-8)
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(texts=text_strategy)
def test_clean_text_is_idempotent(spark, texts):
    """PRJ5 contract: cleaning is a projection — applying it twice equals
    applying it once (NULL→''→strip→collapse-whitespace stabilizes)."""
    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    out = df.select(
        clean_text("t").alias("once"),
        clean_text(clean_text("t")).alias("twice"),
    ).collect()
    for r in out:
        assert r.once == r.twice


@SETTINGS
@given(
    ints=st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        min_size=1, max_size=25,
    ),
    junk=st.lists(
        st.text(
            alphabet="abcXYZ!@# .",  # never a parseable int
            min_size=1, max_size=10,
        ),
        min_size=1, max_size=10,
    ),
)
def test_try_cast_keeps_ints_nulls_junk(spark, ints, junk):
    """PRJ4 contract (`to_numeric(errors="coerce")`): every integer
    round-trips through string→int; every non-numeric string becomes
    NULL, never an error."""
    rows = [(str(i), True) for i in ints] + [(j, False) for j in junk]
    df = spark.createDataFrame(rows, "s STRING, numeric BOOLEAN")
    out = df.select("s", "numeric", F.col("s").try_cast("int").alias("v")).collect()
    for r in out:
        if r.numeric:
            assert r.v == int(r.s)
        else:
            assert r.v is None


@SETTINGS
@given(
    existing_keys=st.lists(
        st.integers(min_value=0, max_value=20), min_size=0, max_size=15
    ),
    incoming_keys=st.lists(
        st.integers(min_value=0, max_value=20), min_size=1, max_size=15
    ),
)
def test_upsert_dim_union_semantics_and_idempotency(
    spark, existing_keys, incoming_keys
):
    """SNK3 contract: after the load appends ``new_dim_rows`` the dim holds
    exactly the union of key sets, each key once; the same batch again
    yields an empty delta (ON CONFLICT DO NOTHING)."""
    existing = (
        spark.createDataFrame([(k,) for k in set(existing_keys)], "k INT")
        if existing_keys
        else None
    )
    incoming = spark.createDataFrame([(k,) for k in incoming_keys], "k INT")
    delta = new_dim_rows(existing, incoming, ["k"])
    once = delta if existing is None else existing.unionByName(delta)
    got = sorted(r.k for r in once.collect())
    assert got == sorted(set(existing_keys) | set(incoming_keys))
    assert new_dim_rows(once, incoming, ["k"]).count() == 0


@SETTINGS
@given(
    keys=st.lists(
        st.sampled_from(["HOT", "HOT", "HOT", "a", "b", "c"]),  # skewed
        min_size=1, max_size=30,
    ),
    n_salt=st.integers(min_value=1, max_value=8),
)
def test_salted_join_equals_plain_join(spark, keys, n_salt):
    """Salting is a physical rewrite only: result multiset is identical
    to the plain join for any data distribution and salt count."""
    from proyecto_gasto_publico_etl_per__spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k STRING, payload INT"
    )
    small = spark.createDataFrame(
        [("HOT", 1), ("a", 2), ("zzz", 3)], "k STRING, label INT"
    )
    plain = sorted(
        (r.k, r.payload, r.label) for r in big.join(small, ["k"]).collect()
    )
    salted = sorted(
        (r.k, r.payload, r.label)
        for r in salted_join(big, small, ["k"], n_salt=n_salt).collect()
    )
    assert salted == plain


@SETTINGS
@given(
    periods=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=2100),
            st.integers(min_value=-3, max_value=15),
        ),
        min_size=1, max_size=30,
    )
)
def test_with_month_date_valid_iff_plausible_period(spark, periods):
    """PRJ6 contract: FECHA is the month start exactly when (year > 0,
    month in 1..12); otherwise NULL — never an ANSI error."""
    from proyecto_gasto_publico_etl_per__spark.operators.normalize import (
        with_month_date,
    )

    df = spark.createDataFrame(periods, "ANO_EJE INT, MES_EJE INT")
    out = with_month_date(df).collect()
    for r in out:
        if r.ANO_EJE > 0 and 1 <= r.MES_EJE <= 12:
            assert (r.FECHA.year, r.FECHA.month, r.FECHA.day) == (
                r.ANO_EJE, r.MES_EJE, 1,
            )
        else:
            assert r.FECHA is None


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # grain key
            st.integers(min_value=-1000, max_value=1000),  # metric (cents)
        ),
        min_size=1, max_size=40,
    )
)
def test_consolidate_preserves_totals(spark, rows):
    """AGG1 contract: grain consolidation never changes the grand total,
    and yields exactly one row per distinct grain key."""
    from decimal import Decimal

    from proyecto_gasto_publico_etl_per__spark.operators.star import consolidate

    df = spark.createDataFrame(
        [(k, Decimal(c) / 100) for k, c in rows],
        "g INT, m DECIMAL(18,4)",
    )
    out = consolidate(df, grain=["g"], metrics=["m"]).collect()
    assert len(out) == len({k for k, _ in rows})
    assert sum(r.m for r in out) == sum(Decimal(c) / 100 for _, c in rows)


@SETTINGS
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, ts)
        min_size=1, max_size=25,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 9)),
        min_size=0, max_size=25,
    ),
)
def test_asof_join_matches_naive_lookup(spark, lefts, rights):
    """asof_join == per-row 'latest right at or before my ts' lookup."""
    from datetime import datetime, timedelta

    from proyecto_gasto_publico_etl_per__spark.operators.asof import asof_join

    t0 = datetime(2024, 1, 1)
    # right must be unique per (key, ts): keep max payload per slot
    rmap: dict[tuple[int, int], int] = {}
    for k, ts, v in rights:
        rmap[(k, ts)] = max(rmap.get((k, ts), -1), v)

    left = spark.createDataFrame(
        [(i, k, t0 + timedelta(minutes=ts)) for i, (k, ts) in enumerate(lefts)],
        "row_id INT, k INT, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(k, t0 + timedelta(minutes=ts), v) for (k, ts), v in rmap.items()],
        "k INT, ts TIMESTAMP, payload INT",
    ) if rmap else spark.createDataFrame([], "k INT, ts TIMESTAMP, payload INT")

    got = {
        r.row_id: r.payload
        for r in asof_join(left, right, ["k"]).collect()
    }
    for i, (k, ts) in enumerate(lefts):
        cands = [
            (rts, v) for (rk, rts), v in rmap.items() if rk == k and rts <= ts
        ]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, ts)


@SETTINGS
@given(
    cents=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**9)),
        min_size=1, max_size=40,
    )
)
def test_gsum_equals_dsum_on_grid_values(spark, cents):
    """The long-micros fast path must be bit-identical to the decimal
    accumulator for any non-negative grid values and any grouping."""
    from decimal import Decimal

    from proyecto_gasto_publico_etl_per__spark.functions.money import (
        dsum, gsum,
    )

    df = spark.createDataFrame(
        [(k, Decimal(c) / 10000) for k, c in cents],
        "g INT, m DECIMAL(18,4)",
    )
    out = df.groupBy("g").agg(
        dsum("m", "slow"), gsum("m", "fast")
    ).collect()
    for r in out:
        assert r.fast == r.slow  # exact double equality, not approx


@SETTINGS
@given(
    f1=st.integers(min_value=0, max_value=100),
    f2=st.integers(min_value=0, max_value=100),
)
def test_hash_sample_thresholds_nest(spark, f1, f2):
    """Threshold sampling nests: the p% sample is a subset of the q%
    sample whenever p <= q — what makes hash sampling safely 'growable'
    (enlarging a training subset never discards previously-chosen docs)."""
    from proyecto_gasto_publico_etl_per__spark.operators.sampling import (
        hash_sample,
    )

    lo, hi = sorted((f1, f2))
    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    small = {r.doc_id for r in hash_sample(docs, "doc_id", lo / 100).collect()}
    big = {r.doc_id for r in hash_sample(docs, "doc_id", hi / 100).collect()}
    assert small <= big


@SETTINGS
@given(
    present=st.lists(
        st.sampled_from(["A", "B", "C", "D"]), min_size=0, max_size=4,
        unique=True,
    )
)
def test_conform_schema_always_yields_target_shape(spark, present):
    """PRJ2/PRJ3 contract: whatever subset of expected columns the raw
    file has (plus junk extras), the conformed frame has exactly the
    target columns in order, missing ones NULL."""
    from proyecto_gasto_publico_etl_per__spark.operators.normalize import (
        conform_schema,
    )

    target = ["A", "B", "C", "D"]
    cols = [*present, "JUNK"]
    row = tuple("x" for _ in cols)
    df = spark.createDataFrame([row], ", ".join(f"{c} STRING" for c in cols))
    out = conform_schema(df, target)
    assert out.columns == target
    r = out.collect()[0]
    for c in target:
        assert r[c] == ("x" if c in present else None)


@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0, max_size=8,
        ),
        min_size=2, max_size=8,
    )
)
def test_ngram_jaccard_matches_python_model(spark, texts):
    """The distributed posting-list Jaccard equals a direct Python
    computation of 3-gram shingle overlap for arbitrary small corpora."""
    from proyecto_gasto_publico_etl_per__spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = [(i, " ".join(words)) for i, words in enumerate(texts)]

    def shingles(words):
        return {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        } if len(words) >= 3 else set()

    expected = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            inter = len(sa & sb)
            union = len(sa | sb)
            if union and inter / union >= 0.4:
                expected[(a, b)] = inter / union

    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.4).collect()
    }
    assert got == expected


def test_gsum_overflow_fails_loudly_never_wraps(spark):
    """functions/money.py documents a 2^63 micros per-group bound; under
    Spark's ANSI mode an overflowing sum(long) must RAISE, not wrap to a
    silently-wrong negative total (the failure mode the 100 TB design
    note promises away)."""
    import pytest

    from proyecto_gasto_publico_etl_per__spark.functions.money import gsum

    # each value lands near the long-micros cap; three of them overflow
    big = 9.2e14
    df = spark.createDataFrame([(1, big), (1, big), (1, big)], "g INT, v DOUBLE")
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        df.groupBy("g").agg(gsum("v", "t")).collect()


@SETTINGS
@given(
    vals=st.lists(
        st.floats(
            allow_nan=False, allow_infinity=False,
            width=64,
        ),
        min_size=1, max_size=20,
    ),
)
def test_dlit_array_is_bit_exact(spark, vals):
    """The one-parse literal array (round 7: _dlit_sql replaces
    per-element F.lit chains in the similarity family) must be
    BIT-IDENTICAL to the F.lit path for any finite double — repr() is
    the shortest exact round-trip decimal and Spark's parser is
    correctly rounded, so the parsed literal is the same IEEE value
    (denormals, -0.0, huge exponents included)."""
    import math
    import struct

    from proyecto_gasto_publico_etl_per__spark.operators.similarity import (
        _dlit_sql,
    )

    row = (
        spark.range(1)
        .select(
            F.expr(_dlit_sql(vals)).alias("parsed"),
            F.array(*[F.lit(float(x)) for x in vals]).alias("lit"),
        )
        .collect()[0]
    )
    bits = lambda x: struct.pack(">d", x)  # noqa: E731 — bit compare
    assert [bits(x) for x in row.parsed] == [bits(x) for x in row.lit]
    assert [bits(x) for x in row.parsed] == [bits(float(x)) for x in vals]
    assert not any(math.isnan(x) for x in row.parsed)


@SETTINGS
@given(
    n_rows=st.integers(min_value=0, max_value=10**14),
    budget=st.integers(min_value=1, max_value=10**7),
)
def test_dsir_auto_ppm_bounds(spark, n_rows, budget):
    """The DSIR auto sample-sizing rule (round 7): for any corpus size
    and driver budget, the fraction is in [1, 1e6] ppm, EXACT when the
    corpus fits the budget, and the expected sample never exceeds the
    budget except at the 1-ppm floor (reached only beyond 1e6× the
    budget, where the floor itself is the bound)."""
    from proyecto_gasto_publico_etl_per__spark.operators.curation import (
        _dsir_auto_ppm,
    )

    p = _dsir_auto_ppm(n_rows, budget)
    assert 1 <= p <= 1_000_000
    if n_rows <= budget:
        assert p == 1_000_000  # exact path: small-SF semantics unchanged
    elif p > 1:
        assert n_rows * p <= budget * 1_000_000  # sample within budget
    else:
        assert n_rows > budget * 500_000  # floor only fires at extremes
