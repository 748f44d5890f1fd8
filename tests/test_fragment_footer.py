"""Fragment-metadata footer parsing (round 4): the per-fragment
non-empty domain read straight from __fragment_metadata.tdb, validated
against GROUND TRUTH (the fragment's own decoded coordinates) across
every committed reference fixture, plus the writer's footer round-trip
and the pruning behavior it enables.

Safety property under test: parse_fragment_footer either returns a
domain that CONTAINS the fragment's true coordinate range on every
trusted (fixed) dim, or returns None — never a narrower-than-truth
range, because pruning on one would drop rows."""

import glob
import os
import struct

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _SPAN_STATS,
    _field_cells,
    _field_file,
    _fragment_dirs,
    _np_field,
    fragment_overlaps,
    parse_array_schema,
    parse_fragment_footer,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from tiledb_mariadb_spark.reference_fixtures import TILEDB_ARRAYS

from tests.conftest import needs_fixtures
from .native_model import range_rows

FIXROOT = TILEDB_ARRAYS


def _column(frag, schema, d, i):
    """Every cell of dim ``d`` (index ``i``) of ``frag`` as python
    values."""
    n = _field_cells(_field_file(frag, d.name, i, "d"), d)
    return _np_field(frag, schema, d, i, "d", 0, n).tolist()


def _fixture_fragments():
    out = []
    for schema_file in glob.glob(
        FIXROOT + "/**/__array_schema.tdb", recursive=True
    ) + glob.glob(FIXROOT + "/**/__schema/*", recursive=True):
        arr = os.path.dirname(schema_file)
        if os.path.basename(arr) == "__schema":
            arr = os.path.dirname(arr)
        try:
            schema = parse_array_schema(_schema_path(arr))
        except Exception:  # noqa: BLE001
            continue
        for frag in _fragment_dirs(arr):
            fm = os.path.join(frag, "__fragment_metadata.tdb")
            if os.path.isfile(fm):
                out.append((arr, frag, schema))
    # dedupe (schema glob may hit an array twice)
    return sorted({(a, f): (a, f, s) for a, f, s in out}.values())


@needs_fixtures(FIXROOT)
def test_fixture_footers_never_narrower_than_truth():
    checked = parsed = 0
    for _arr, frag, schema in _fixture_fragments():
        footer = parse_fragment_footer(
            os.path.join(frag, "__fragment_metadata.tdb"), schema
        )
        checked += 1
        if footer is None:
            continue  # honest fallback — fine
        parsed += 1
        if footer.dense:
            continue
        for i, d in enumerate(schema.dims):
            dom = footer.non_empty_domain[i]
            if dom is None:
                continue  # var dim: untrusted by design
            try:
                col = _column(frag, schema, d, i)
            except Exception:  # noqa: BLE001
                continue
            if not col:
                continue
            assert dom[0] <= min(col) and max(col) <= dom[1], (
                frag, d.name, dom, (min(col), max(col))
            )
    # the parser must actually engage on a healthy share of fixtures
    assert checked >= 8 and parsed >= checked // 2, (checked, parsed)


@needs_fixtures(f"{FIXROOT}/2.0/bank", f"{FIXROOT}/2.0/all_datetimes")
def test_known_fixture_footers_exact():
    cases = {
        f"{FIXROOT}/2.0/bank": [(0, 45210), None],  # var dim untrusted
        f"{FIXROOT}/2.0/all_datetimes": [(1, 1)],
    }
    for arr, expect in cases.items():
        schema = parse_array_schema(_schema_path(arr))
        frag = _fragment_dirs(arr)[0]
        footer = parse_fragment_footer(
            os.path.join(frag, "__fragment_metadata.tdb"), schema
        )
        assert footer is not None, arr
        assert footer.non_empty_domain == expect, (
            arr, footer.non_empty_domain
        )


def test_writer_footer_roundtrip_and_pruning(tmp_path):
    d = str(tmp_path / "pruned")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    # three disjoint-key fragments
    for base in (0, 10_000, 20_000):
        ks = list(range(base, base + 1000))
        write_native_fragment(
            d, {"k": ks, "v": [k * 2 for k in ks]}, ts=100 + base
        )
    schema = parse_array_schema(_schema_path(d))
    frags = _fragment_dirs(d)
    footers = [
        parse_fragment_footer(
            os.path.join(f, "__fragment_metadata.tdb"), schema
        )
        for f in frags
    ]
    assert [f.non_empty_domain for f in footers] == [
        [(0, 999)], [(10_000, 10_999)], [(20_000, 20_999)]
    ]
    assert footers[0].last_tile_cell_num == 1000
    # pruning: a range inside fragment 2 proves fragments 1/3 disjoint
    rng = [(10_100, 10_199)]
    assert [fragment_overlaps(f, schema, rng) for f in frags] == [
        False, True, False
    ]
    # and the range reader touches ZERO chunks of the pruned fragments
    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    names, rows = range_rows(d, ranges=rng)
    assert len(rows) == 100
    assert rows[0] == (10_100, 20_200)
    # chunks_total counts only walked files — one fragment's worth
    assert _SPAN_STATS["chunks_total"] <= 4


def test_corrupt_footer_falls_back_to_none(tmp_path):
    d = str(tmp_path / "corrupt")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1], "v": [1]}, ts=10)
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    blob = bytearray(open(fm, "rb").read())
    # corrupt the domain to lie OUTSIDE the schema domain -> rejected
    raw_off = len(blob) - 8 - 8 - 8 - 16  # stn+ltcn+domain before tail
    struct.pack_into("<qq", blob, raw_off, 500, 900)
    open(fm, "wb").write(bytes(blob))
    assert parse_fragment_footer(fm, schema) is None
    # overlap must answer True (no pruning without a validated footer)
    assert fragment_overlaps(frag, schema, [(50, 60)])


def test_connector_info_narrows_to_nonempty_domain(tmp_path):
    """Split planning covers where data actually lives: the connector's
    info() narrows each dim's domain from the schema's declared bounds
    to the union of validated fragment footers."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        plan_splits,
    )

    d = str(tmp_path / "narrow")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**9), None)],  # vast declared
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(
        d, {"k": list(range(5000, 6000)), "v": [0] * 1000}, ts=10
    )
    write_native_fragment(
        d, {"k": list(range(8000, 8500)), "v": [1] * 500}, ts=20
    )
    info = NativeDecoderBackend().info(d)
    assert info.dims[0].domain == (5000, 8499)
    splits = plan_splits(info, target_splits=4)
    assert len(splits) == 4
    assert splits[0][0][0] == 5000 and splits[-1][0][1] == 8499


def test_sorted_seek_decodes_log_chunks(tmp_path):
    """Sorted-dim0 bisect seek: a narrow range over a many-chunk sorted
    fragment decodes only O(log) coordinate chunks + the span, not the
    whole coordinate column."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        sorted_dim0_cell_span,
    )

    d = str(tmp_path / "seek")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    n = 200_000  # int64 dim = 1.6 MB -> ~25 chunks
    write_native_fragment(
        d, {"k": list(range(n)), "v": [i * 2 for i in range(n)]}, ts=10
    )
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    span = sorted_dim0_cell_span(frag, schema, 150_000, 150_099)
    assert span == (150_000, 150_100, n)
    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    names, rows = range_rows(d, ranges=[(150_000, 150_099)])
    assert len(rows) == 100
    assert rows[0] == (150_000, 300_000)
    assert rows[-1] == (150_099, 300_198)
    # ~25 coord chunks exist; bisect + span + attr span decode far fewer
    assert _SPAN_STATS["chunks_decoded"] <= 10, _SPAN_STATS


@needs_fixtures(
    f"{FIXROOT}/2.3/quickstart_sparse_hilbert",
    f"{FIXROOT}/2.0/string_dim",
)
def test_sorted_seek_declines_on_hilbert_and_var(tmp_path):
    """The seek only engages when the format guarantees dim0 order:
    Hilbert cell order and var-width dims fall back to full decode."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        sorted_dim0_cell_span,
    )

    FIX = FIXROOT + "/2.3/quickstart_sparse_hilbert"
    schema = parse_array_schema(_schema_path(FIX))
    frag = _fragment_dirs(FIX)[0]
    if schema.cell_order != 0:
        assert sorted_dim0_cell_span(frag, schema, 1, 2) is None
    # var string dim
    SD = FIXROOT + "/2.0/string_dim"
    s2 = parse_array_schema(_schema_path(SD))
    f2 = _fragment_dirs(SD)[0]
    assert sorted_dim0_cell_span(f2, s2, "aa", "bb") is None


@needs_fixtures(f"{FIXROOT}/2.0/bank")
def test_sorted_seek_matches_full_decode_on_fixtures(tmp_path):
    """Equivalence: range reads with and without the seek agree on a
    real multi-row fixture (bank, 45211 cells, row-major)."""
    arr = FIXROOT + "/2.0/bank"
    names, rows = range_rows(arr, ranges=[(100, 199)])
    assert len(rows) == 100
    assert all(100 <= r[0] <= 199 for r in rows)


# --- metadata-only exact COUNT (count_native_array) -------------------------


@needs_fixtures(FIXROOT)
def test_footer_count_matches_decode_on_every_fixture():
    """Whenever count_native_array claims a count from footers alone, it
    must equal the decoded row count — across every committed reference
    fixture (incl. the 45k-row bank and 20k-row var arrays, whose tiles
    exercise the capacity-packed invariant the formula relies on)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        read_native_array,
    )

    arrays = sorted({a for a, _f, _s in _fixture_fragments()})
    proved = 0
    for arr in arrays:
        n = count_native_array(arr)
        if n is None:  # conservative fallback is always allowed
            continue
        _names, rows = read_native_array(arr)
        assert n == len(rows), arr
        proved += 1
    assert proved >= 8  # the formula must actually fire on the corpus


def test_count_is_metadata_only(tmp_path, monkeypatch):
    """count_native_array never touches tile data: with every decode
    entry point poisoned, the count still comes back."""
    import tiledb_mariadb_spark.sources.tiledb_native as tn

    d = str(tmp_path / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2, 3], "v": [1, 2, 3]}, ts=100)
    write_native_fragment(d, {"k": [50, 51], "v": [5, 5]}, ts=200)

    def boom(*_a, **_k):
        raise AssertionError("tile decode reached from count path")

    monkeypatch.setattr(tn, "read_byte_span", boom)
    monkeypatch.setattr(tn, "read_native_array", boom)
    monkeypatch.setattr(tn, "read_native_array_range_np", boom)
    assert tn.count_native_array(d) == 5


def test_count_conservative_rules(tmp_path):
    """Sum only when provable: disjoint footers sum; overlapping
    non-dups arrays return None (newest-wins needs a decode);
    allows_dups sums regardless of overlap; `at` bounds visibility;
    an empty array counts 0."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
    )

    # overlapping, no dups -> not provable
    d1 = str(tmp_path / "overlap")
    create_native_array(
        d1,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d1, {"k": [1, 2], "v": [1, 2]}, ts=100)
    write_native_fragment(d1, {"k": [2, 3], "v": [9, 3]}, ts=200)
    assert count_native_array(d1) is None
    assert count_native_array(d1, at=100) == 2  # single visible fragment

    # same coords, allows_dups -> duplicates are kept, sum is exact
    d2 = str(tmp_path / "dups")
    create_native_array(
        d2,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    write_native_fragment(d2, {"k": [1, 2], "v": [1, 2]}, ts=100)
    write_native_fragment(d2, {"k": [2, 3], "v": [9, 3]}, ts=200)
    assert count_native_array(d2) == 4

    # empty array
    d3 = str(tmp_path / "empty")
    create_native_array(
        d3,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    assert count_native_array(d3) == 0


def test_count_multi_tile_capacity_packing(tmp_path):
    """The (stn-1)*capacity + ltcn formula across MULTIPLE tiles: 25
    cells at capacity 10 -> 3 tiles, last holding 5."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        parse_fragment_footer,
    )

    d = str(tmp_path / "multitile")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=10,
    )
    ks = list(range(25))
    write_native_fragment(d, {"k": ks, "v": ks}, ts=100)
    frag = _fragment_dirs(d)[0]
    f = parse_fragment_footer(
        os.path.join(frag, "__fragment_metadata.tdb"),
        parse_array_schema(_schema_path(d)),
    )
    assert (f.sparse_tile_num, f.last_tile_cell_num) == (3, 5)
    assert count_native_array(d) == 25


# --- fragment R-tree: leaf MBRs (parse_rtree_leaf_mbrs) ---------------------


@needs_fixtures(FIXROOT)
def test_fixture_rtrees_never_narrower_than_truth():
    """Across every committed fixture: when the R-tree parses, the leaf
    count matches the footer's tile count and each leaf MBR CONTAINS its
    tile's true per-tile coordinate range on every trusted (fixed) dim."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_rtree_leaf_mbrs,
    )

    parsed = multi = 0
    for _arr, frag, schema in _fixture_fragments():
        mbrs = parse_rtree_leaf_mbrs(frag, schema)
        if mbrs is None:
            continue
        parsed += 1
        if len(mbrs) > 1:
            multi += 1
        cap = schema.capacity
        for i, d in enumerate(schema.dims):
            if d.is_var:
                assert all(m[i] is None for m in mbrs)
                continue
            try:
                coords = _column(frag, schema, d, i)
            except FileNotFoundError:
                continue  # 1.6 zipped-coords fragments: no per-dim file
            for k, m in enumerate(mbrs):
                tile = coords[k * cap : (k + 1) * cap]
                assert tile, (frag, k)
                lo, hi = m[i]
                assert lo <= min(tile) and max(tile) <= hi, (frag, k, d.name)
    assert parsed >= 6  # every probed era parses
    assert multi >= 1  # incl. the bank 5-tile tree


def test_writer_rtree_roundtrip_and_hierarchy(tmp_path):
    """Writer-emitted R-trees parse back to exact per-tile min/max, and
    >fanout tiles produce a multi-level tree (root merges children)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_rtree_leaf_mbrs,
    )

    d = str(tmp_path / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10000), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=3,
    )
    ks = list(range(0, 100, 2))  # 50 cells -> 17 tiles -> 2 levels
    write_native_fragment(d, {"k": ks, "v": ks}, ts=10)
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    mbrs = parse_rtree_leaf_mbrs(frag, schema)
    assert mbrs is not None and len(mbrs) == 17
    for k, m in enumerate(mbrs):
        tile = ks[k * 3 : (k + 1) * 3]
        assert m == [(min(tile), max(tile))]


def test_rtree_prunes_on_non_dim0_ranges(tmp_path):
    """The pruning bisect can't do: dim0 unbounded, dim1 bounded.  With
    dim1 correlated to dim0 (sorted writes), tile MBRs on dim1 prune most
    tiles — verified via decode stats AND an exact result."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _SPAN_STATS,
        rtree_tile_runs,
    )

    d = str(tmp_path / "arr2d")
    create_native_array(
        d,
        dims=[
            NativeDim("a", 1, 1, (0, 10000), None),
            NativeDim("b", 1, 1, (0, 10000), None),
        ],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=10,
    )
    n = 400
    rows = [(i, i, i % 97) for i in range(n)]  # b == a: correlated
    write_native_fragment(
        d,
        {"a": [r[0] for r in rows], "b": [r[1] for r in rows],
         "v": [r[2] for r in rows]},
        ts=10,
    )
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    rngs = [(None, None), (100, 140)]
    runs = rtree_tile_runs(frag, schema, rngs)
    assert runs is not None and runs, "dim1 MBRs must prune tiles"
    covered = sum(hi - lo for lo, hi, _n in runs)
    assert covered <= 60  # 41 matching cells in 10-cell tiles, not 400
    before = dict(_SPAN_STATS)
    _names, got = range_rows(d, ranges=rngs)
    assert got == [(i, i, i % 97) for i in range(100, 141)]
    decoded = _SPAN_STATS["bytes_decoded"] - before["bytes_decoded"]
    # 3 fields x ~60 cells x 8B plus chunk rounding — far below the
    # ~9.6KB a full-fragment decode of the v column alone would cost
    assert decoded < 5000, decoded


def test_estimate_range_cells(tmp_path):
    """est_result_size analog: metadata-only, always an upper bound on
    the true match count, tile-tight when the R-tree prunes, and exact
    fragment totals for unbounded reads."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        estimate_range_cells,
    )

    d = str(tmp_path / "est")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10000), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=10,
    )
    ks = list(range(0, 600, 2))  # 300 cells -> 30 tiles
    write_native_fragment(d, {"k": ks, "v": ks}, ts=10)
    assert estimate_range_cells(d) == 300
    for lo, hi in [(0, 0), (0, 99), (100, 140), (595, 9000), (601, 9000)]:
        est = estimate_range_cells(d, ranges=[(lo, hi)])
        _n, rows = range_rows(d, ranges=[(lo, hi)])
        assert est >= len(rows), (lo, hi)
        assert est <= 300
        # tile-granular: within one spilled tile of the truth
        assert est - len(rows) <= 2 * 10, (lo, hi, est, len(rows))


@needs_fixtures(f"{FIXROOT}/2.0/bank")
def test_estimate_range_cells_fixture():
    """Bank fixture: a one-tile id range estimates exactly one tile."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        estimate_range_cells,
    )

    bank = FIXROOT + "/2.0/bank"
    assert estimate_range_cells(bank) == 45211
    assert estimate_range_cells(bank, ranges=[(0, 9999), (None, None)]) == 10000
    assert estimate_range_cells(bank, ranges=[(46000, 50000), (None, None)]) == 0


def test_corrupt_rtree_falls_back_without_wrong_results(tmp_path):
    """A garbled R-tree tile must parse to None (no pruning) — never to
    wrong MBRs; ranged reads stay exact either way."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_rtree_leaf_mbrs,
        rtree_tile_runs,
    )

    d = str(tmp_path / "badrtree")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=10,
    )
    ks = list(range(0, 200, 2))
    write_native_fragment(d, {"k": ks, "v": ks}, ts=10)
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    assert parse_rtree_leaf_mbrs(frag, schema) is not None
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    blob = bytearray(open(fm, "rb").read())
    # stomp the R-tree payload region (post-header bytes of the tile at
    # offset 0) with junk that still parses as a chunked container
    for off in range(60, 90):
        blob[off] ^= 0xFF
    open(fm, "wb").write(bytes(blob))
    assert parse_rtree_leaf_mbrs(frag, schema) is None
    assert rtree_tile_runs(frag, schema, [(50, 80)]) is None
    _n, rows = range_rows(d, ranges=[(50, 80)])
    assert rows == [(k, k) for k in ks if 50 <= k <= 80]


def test_explain_native_pruning(tmp_path):
    """The pruning explainer reports skip:footer / skip:stats / read
    with tile counts, all from metadata (decode entry points poisoned)."""
    import tiledb_mariadb_spark.sources.tiledb_native as tn

    d = str(tmp_path / "exp")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=100,
    )
    write_native_fragment(
        d, {"k": list(range(0, 500)), "v": [1] * 500}, ts=100, version=19
    )
    write_native_fragment(
        d, {"k": list(range(10_000, 10_300)), "v": [99] * 300}, ts=200,
        version=19,
    )
    import pytest as _pytest

    def boom(*_a, **_k):
        raise AssertionError("tile decode reached from explain path")

    orig = {n: getattr(tn, n) for n in
            ("read_byte_span", "read_native_array",
             "read_native_array_range_np")}
    try:
        for n in orig:
            setattr(tn, n, boom)
        rows = tn.explain_native_pruning(d, ranges=[(0, 600)])
        assert [r["decision"] for r in rows] == ["read", "skip:footer"]
        assert rows[0]["tiles_total"] == 5 and rows[0]["tiles_kept"] == 5
        assert rows[1]["cells"] == 300
        rows2 = tn.explain_native_pruning(
            d, ranges=[(0, 600)], conditions=[("v", ">", 50)]
        )
        assert rows2[0]["decision"] == "skip:stats"
        # narrow window keeps a strict subset of tiles (R-tree runs)
        rows3 = tn.explain_native_pruning(d, ranges=[(0, 150)])
        assert rows3[0]["decision"] == "read"
        assert rows3[0]["tiles_kept"] < rows3[0]["tiles_total"]
    finally:
        for n, fn in orig.items():
            setattr(tn, n, fn)
    _ = _pytest
