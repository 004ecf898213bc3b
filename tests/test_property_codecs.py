"""Hypothesis property tests: decode(encode(x)) == x for arbitrary
int32 content across the full codec surface (beyond the seeded sweeps,
the framework hunts boundary shapes: empty runs, width edges, single
values, adversarial alternations)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from tokencodec import codecs, pageformat
from tokencodec.codecs import rle


int32s = st.integers(min_value=0, max_value=(1 << 31) - 1)


@settings(max_examples=60, deadline=None)
@given(st.lists(int32s, min_size=0, max_size=400))
def test_auto_int_page_roundtrip(xs):
    vals = np.array(xs, dtype=np.int64)
    page = pageformat.encode_int_page(vals, pageformat.KIND_INT32)
    np.testing.assert_array_equal(pageformat.decode_int_page(page).astype(np.int64), vals)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-(1 << 40), max_value=1 << 40),
                min_size=0, max_size=300))
def test_auto_int64_page_roundtrip(xs):
    vals = np.array(xs, dtype=np.int64)
    page = pageformat.encode_int_page(vals, pageformat.KIND_INT64)
    np.testing.assert_array_equal(pageformat.decode_int_page(page), vals)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(1, 40)),
                min_size=1, max_size=60))
def test_rle_hybrid_runs_roundtrip(run_spec):
    vals = np.repeat(np.array([v for v, _ in run_spec], dtype=np.uint64),
                     np.array([c for _, c in run_spec], dtype=np.int64))
    buf = rle.encode(vals, 5)
    np.testing.assert_array_equal(rle.decode(buf, 5, len(vals)), vals)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=30), min_size=1, max_size=80),
       st.booleans())
def test_string_page_roundtrip(blobs, force_fsst):
    data = b"".join(blobs)
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    codec = codecs.FSST if force_fsst and len(data) else None
    page = pageformat.encode_string_page(offsets, data, codec=codec,
                                         _allow_dict=not force_fsst)
    oo, dd = pageformat.decode_string_page(page)
    np.testing.assert_array_equal(oo, offsets)
    assert dd == data



@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(min_value=-(1 << 24), max_value=1 << 24),
                min_size=1, max_size=300),
       st.integers(min_value=0, max_value=24))
def test_dictionary_unique_inverse_paths_agree(xs, shift):
    """The bincount and sort paths of dictionary._unique_inverse return
    identical (uniques, inverse): dense values (range within 4x the
    length) take the bincount path, sparse ones the sort."""
    from tokencodec.codecs import dictionary
    vals = np.array(xs, dtype=np.int64) >> shift
    want_u, want_i = np.unique(vals, return_inverse=True)
    got_u, got_i = dictionary._unique_inverse(vals)
    np.testing.assert_array_equal(got_u, want_u)
    np.testing.assert_array_equal(got_i.ravel(), want_i.ravel())

# ---------------------------------------------------------------- nested trees

def _nested_values(depth):
    """Strategy for values of a nested type of the given shape."""
    import hypothesis.strategies as st
    leaf = st.one_of(st.none(), st.integers(-2**62, 2**62))
    v = leaf
    for kind in depth:
        if kind == "list":
            v = st.one_of(st.none(), st.lists(v, max_size=4))
        else:  # struct with two fields
            v = st.one_of(st.none(), st.fixed_dictionaries({"a": v, "b": leaf}))
    return st.lists(v, max_size=8)


def _nested_type(depth):
    import pyarrow as pa
    t = pa.int64()
    for kind in depth:
        t = pa.list_(t) if kind == "list" else pa.struct([("a", t), ("b", pa.int64())])
    return t


@settings(max_examples=40, deadline=None)
@given(
    shape=st.lists(st.sampled_from(["list", "struct"]), min_size=0, max_size=3),
    data=st.data())
def test_nested_tree_roundtrip(shape, data):
    """Random list/struct trees over int64 leaves round-trip bit- and
    type-identical through the nested codec."""
    import pyarrow as pa
    from tokencodec import nested
    values = data.draw(_nested_values(shape))
    arr = pa.array(values, _nested_type(shape))
    out = nested.decode_nested_page(nested.encode_nested_page(arr))
    assert out.type == arr.type
    assert out.equals(arr), f"\nin : {arr}\nout: {out}"


# ------------------------------------------------------- nullable extra pages

@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(-(1 << 40), 1 << 40)),
                min_size=0, max_size=300))
def test_nullable_int_extra_page_roundtrip(xs):
    """Arbitrary NULL patterns (all-null, none-null, alternating) in an
    extra column round-trip through the NULLABLE validity wrap."""
    import pyarrow as pa
    from tokencodec.spark.decode_job import _extra_array
    from tokencodec.spark.encode_job import encode_extra_page
    arr = pa.array(xs, pa.int64())
    page = encode_extra_page(arr, "bigint")
    out = _extra_array(page, "bigint", len(xs))
    assert out.to_pylist() == xs
    # dense input must NOT pay for the wrapper
    if arr.null_count == 0:
        assert pageformat.read_header(page)["codec"] != codecs.NULLABLE


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=12)),
                min_size=0, max_size=200))
def test_nullable_string_extra_page_roundtrip(xs):
    import pyarrow as pa
    from tokencodec.spark.decode_job import _extra_array
    from tokencodec.spark.encode_job import encode_extra_page
    arr = pa.array(xs, pa.string())
    page = encode_extra_page(arr, "string")
    assert _extra_array(page, "string", len(xs)).to_pylist() == xs


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.floats(allow_nan=True, width=64)),
                min_size=0, max_size=300))
def test_nullable_double_extra_page_roundtrip(xs):
    """Double extra pages with arbitrary NULL patterns round-trip
    BIT-exactly (NaN payloads, -0.0, denormals) through the NULLABLE
    wrap + float codecs."""
    import numpy as np
    import pyarrow as pa
    from tokencodec.spark.decode_job import _extra_array
    from tokencodec.spark.encode_job import encode_extra_page
    arr = pa.array(xs, pa.float64())
    page = encode_extra_page(arr, "double")
    out = _extra_array(page, "double", len(xs))
    assert out.is_valid().to_pylist() == [x is not None for x in xs]
    got = np.asarray(out.drop_null(), dtype=np.float64)
    want = np.array([x for x in xs if x is not None], np.float64)
    assert got.view(np.uint64).tolist() == want.view(np.uint64).tolist()


def test_nullable_page_crc_and_mismatch():
    import pytest
    import numpy as np
    inner = pageformat.encode_int_page(np.array([1, 2, 3], np.int64),
                                       pageformat.KIND_INT32)
    validity = np.array([True, False, True, False, True])
    page = pageformat.wrap_nullable(inner, validity)
    v, i = pageformat.unwrap_nullable(page)
    np.testing.assert_array_equal(v, validity)
    assert bytes(i) == inner
    # a flipped payload byte must fail the wrapper CRC
    bad = bytearray(page)
    bad[pageformat.HEADER_SIZE] ^= 0xFF
    with pytest.raises(ValueError, match="crc mismatch"):
        pageformat.unwrap_nullable(bytes(bad))
    # wrapping with a validity count that disagrees with the inner page
    with pytest.raises(ValueError, match="validity bits"):
        pageformat.wrap_nullable(inner, np.array([True, True]))
