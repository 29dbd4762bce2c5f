"""Property-based tests (hypothesis): the lenient-parse semantics hold for
*arbitrary* payloads, not just the fixtures the reference's tests used.
(The reference has no property tests — SURVEY.md §5 'Absent'; this goes
beyond its pyramid on purpose.)"""

from __future__ import annotations

import json
import math

from hypothesis import given, settings, strategies as st

from kafka_clickhouse_ingest_pipeline_spark.operators import ingest

# payloads in the IngestedData shape, with arbitrary extra/missing keys
payloads = st.fixed_dictionaries(
    {},
    optional={
        "sensorId": st.text(
            alphabet=st.characters(codec="ascii", exclude_characters='"\\\x00'),
            max_size=20,
        ),
        "temperature": st.floats(
            allow_nan=False, allow_infinity=False, width=32
        ),
        "value": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "message": st.text(
            alphabet=st.characters(codec="ascii", exclude_characters='"\\\x00'),
            max_size=20,
        ),
        "unknown_extra": st.integers(),
        "nested": st.fixed_dictionaries({"a": st.integers()}),
    },
)


@settings(max_examples=12, deadline=None)
@given(st.lists(payloads, min_size=1, max_size=8))
def test_parse_typed_matches_json_module(spark, batch):
    """For any batch of well-formed JSON objects: every row survives the
    gate, unknown keys are ignored, present typed keys round-trip, missing
    keys surface as null."""
    df = spark.createDataFrame(
        [(json.dumps(p),) for p in batch], "value string"
    )
    rows = ingest.parse_typed(df).collect()
    assert len(rows) == len(batch)
    by_raw = {r._raw_data: r for r in rows}
    for p in batch:
        row = by_raw[json.dumps(p)]
        assert row.sensorId == p.get("sensorId")
        assert row.message == p.get("message")
        assert row.value == p.get("value")
        t = p.get("temperature")
        if t is None:
            assert row.temperature is None
        else:
            assert math.isclose(row.temperature, t, rel_tol=1e-6, abs_tol=1e-30)


@settings(max_examples=12, deadline=None)
@given(st.text(max_size=40))
def test_arbitrary_garbage_never_crashes_the_gate(spark, garbage):
    """Any string at all either parses (JSON object) or is dropped —
    the batch never fails (MessageProcessor.kt drop-don't-fail)."""
    df = spark.createDataFrame([(garbage,), ('{"sensorId": "ok"}',)], "value string")
    rows = ingest.parse_typed(df).collect()
    kept = {r.sensorId for r in rows}
    assert "ok" in kept
    assert len(rows) <= 2


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    )
)
def test_round4_is_engine_portable(spark, xs):
    """The rounding helper — the cornerstone of every float oracle — must
    produce bit-identical results in Spark and DuckDB for arbitrary
    doubles, including decimal-tie values."""
    import duckdb

    from kafka_clickhouse_ingest_pipeline_spark.functions.rounding import (
        round4,
        round4_sql,
    )

    # sprinkle in adversarial tie values
    xs = xs + [0.78375, 0.78125, -0.00005, 123.45675]
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    from pyspark.sql import functions as F

    got_spark = [r[0] for r in df.select(round4(F.col("x"))).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {round4_sql('CAST(? AS DOUBLE)')}", [float(x)]).fetchone()[0]
        for x in xs
    ]
    assert got_spark == got_duck


# JSON values for the whole-string validity-gate property: nested objects/
# arrays with string values that may contain braces/brackets/escapes —
# the cases that break naive balance counters.
_json_vals = st.recursive(
    st.one_of(
        st.integers(min_value=-1000, max_value=1000),
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\x00"
            ),
            max_size=8,
        ),
        st.booleans(),
        st.none(),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(
            st.text(
                alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
                max_size=5,
            ),
            children,
            max_size=3,
        ),
    ),
    max_leaves=8,
)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            _json_vals,
            st.sampled_from(["", " ", "\n\t ", "junk", "{", "]", ',{"b":2}']),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_validity_gate_accepts_iff_whole_string_is_one_value(spark, batch):
    """json_validity_gate must keep a payload exactly when the serialized
    bracketed doc plus the suffix is still ONE whole JSON value (i.e. the
    suffix is whitespace) — for arbitrarily nested docs whose strings may
    contain braces, quotes and escapes."""
    rows, want = [], []
    for i, (val, suffix) in enumerate(batch):
        doc = json.dumps(val)
        if not doc or doc[0] not in "{[":
            doc = json.dumps({"v": val})  # force a bracketed doc
        rows.append((i, doc + suffix))
        want.append(suffix.strip() == "")
    df = spark.createDataFrame(rows, "i int, raw string")
    kept = {r["i"] for r in ingest.json_validity_gate(df, "raw").collect()}
    got = [i in kept for i in range(len(rows))]
    assert got == want, list(zip([r[1] for r in rows], got, want))


@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=21),
    w=st.integers(min_value=1, max_value=21),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_bounded_error_any_shape(h, w, seed):
    """Baseline JPEG at quant 1: ANY uint8 grayscale image — including
    sizes that force edge-replicate padding — roundtrips within one gray
    level, at the original shape. Exercises the full AC Huffman path
    (runs, ZRL, EOB, every magnitude class the noise hits)."""
    import numpy as np

    from kafka_clickhouse_ingest_pipeline_spark.operators import jpeg as J

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    out = J.jpeg_gray(J.make_jpeg(img))
    assert out is not None and out.shape == (h, w)
    assert float(np.abs(out - img).max()) <= 1.0


@settings(max_examples=12, deadline=None)
@given(data=st.binary(max_size=200))
def test_jpeg_decoder_never_raises_on_garbage(data):
    """Arbitrary bytes — with or without a forged SOI prefix — must
    return None, never raise (the fall-through-to-PIL contract)."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import jpeg as J

    assert J.jpeg_gray(data) is None or data[:3] == b"\xff\xd8\xff"
    J.jpeg_gray(b"\xff\xd8\xff" + data)  # must not raise


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=24),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_phrase_match_agrees_with_regex_oracle(spark, words, seed):
    """Cross-validate the postings-intersection phrase search against an
    independent implementation: overlapping regex lookahead counts on
    the raw string. Any phrase, any text, identical match counts."""
    import re

    import random as _random

    rng = _random.Random(seed)
    phrase = [rng.choice(["a", "b", "c"]) for _ in range(rng.choice([2, 3]))]
    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])

    from kafka_clickhouse_ingest_pipeline_spark.operators.text import phrase_match

    got = {r.doc_id: r.n_matches for r in phrase_match(docs, phrase).collect()}
    # independent oracle: overlapping whole-word matches via lookahead
    pat = re.compile(
        r"(?=(?:^|\s)" + r"\s".join(map(re.escape, phrase)) + r"(?:\s|$))"
    )
    want = sum(1 for _ in pat.finditer(" " + text + " "))
    assert got.get(0, 0) == want, (phrase, text, got, want)


def test_hashing_trick_is_linear_in_concatenation(spark):
    """vec(A ++ B) == vec(A) + vec(B) elementwise — the linearity that
    lets hashed features aggregate distributively (partial sums per
    partition, exactly like any additive aggregate). Integer-exact, so
    equality is strict."""
    from kafka_clickhouse_ingest_pipeline_spark.functions import hashing as H
    from pyspark.sql import functions as F

    a = "alpha beta gamma delta alpha"
    b = "beta epsilon zeta beta beta"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a + " " + b)], "doc_id long, text string"
    )
    tk = df.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).where(F.length("term") > 0)
    dim = H.hash60(F.col("term")) % 32
    sgn = F.when(
        H.hash60(F.concat(F.lit("s"), F.col("term"))) % 2 == 0, 1
    ).otherwise(-1)
    vec = {
        (r.doc_id, r.dim): r.val
        for r in tk.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("val"))
        .collect()
    }
    for d in range(32):
        assert vec.get((3, d), 0) == vec.get((1, d), 0) + vec.get((2, d), 0)


def test_quantile_sketch_error_bounded_by_bin_width(spark, sf_dir):
    """The histogram quantile estimate can never be farther from the
    type-1 exact percentile than two bin widths (the crossing bin plus
    one neighbor under interpolation/tie effects) — the accuracy
    contract that makes 64 bins a defensible default."""
    from kafka_clickhouse_ingest_pipeline_spark.queries.relational import (
        quantile_hist_sketch_eval,
    )
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    rows = quantile_hist_sketch_eval(spark, sf_dir).collect()
    assert rows
    bounds = {
        r.l_returnflag: (r.mx - r.mn) / 64.0
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("l_returnflag"))
        .agg(
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    for r in rows:
        width = bounds[r.l_returnflag]
        assert r.abs_err <= 2.0 * width + 1e-9, (
            r.l_returnflag, r.q, r.abs_err, width,
        )


def test_cdc_chunks_tile_any_text(spark):
    """Hypothesis-style sweep over adversarial texts: chunks always tile
    the input exactly (contiguous from 1, lengths sum to len), digests
    re-derive from the tiled substrings, and chunking is deterministic."""
    import hashlib

    from kafka_clickhouse_ingest_pipeline_spark.operators import dedup as D

    texts = [
        "a",
        "x" * 7,          # shorter than the window
        "x" * 8,          # exactly the window
        "y" * 500,        # constant run: boundary hash constant
        " ".join(f"t{i}" for i in range(300)),
        "".join(chr(97 + (i * 7) % 26) for i in range(1000)),
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ch = D.cdc_chunks(df, "text", "doc_id", window=8, divisor=64).collect()
    by_doc: dict[int, list] = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(texts)))  # every non-empty doc
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.start)
        text = texts[doc_id]
        pos = 1
        for r in rows:
            assert r.start == pos and r.length >= 1
            piece = text[r.start - 1 : r.start - 1 + r.length]
            assert hashlib.md5(piece.encode()).hexdigest() == r.digest
            pos += r.length
        assert pos == len(text) + 1
