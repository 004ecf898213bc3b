"""Oversized-document splitting (skew handling): a document larger than
the chunk token budget is split across chunks (bounded pages, never one
giant page) and reassembled bit-identically on decode."""

from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, synth

BUDGET = 1 << 11  # 2048 tokens — ~4% of docs exceed it (lognormal tail)


def test_split_docs_roundtrip_and_bounded_pages(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 400, seed=51).cache()
    n_heavy = df.filter(F.col("n_tok") > BUDGET).count()
    assert n_heavy > 0, "fixture must contain oversized docs"

    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=BUDGET)
    pages = encode_job.read_pages(spark, root)

    # every page is bounded by the budget — no giant pages
    assert pages.filter(F.col("n_tokens") > BUDGET).count() == 0
    split_parts = pages.filter(F.col("doc_parts") > 1)
    assert split_parts.count() >= 2 * n_heavy  # heavy docs produce >1 part

    # part accounting: parts per doc == doc_parts, token sums match
    acc = (split_parts.groupBy("doc_id_min", "doc_parts")
           .agg(F.count("*").alias("parts"), F.sum("n_tokens").alias("tok")))
    assert acc.filter(F.col("parts") != F.col("doc_parts")).count() == 0

    decoded = decode_job.decode(spark, root)
    assert decode_job.audit(df, decoded) == {"missing": 0, "extra": 0, "ok": True}


def test_split_doc_pruning_still_correct(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 300, seed=52).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=BUDGET)
    lo, hi = "doc-000000000050", "doc-000000000199"
    out = decode_job.decode(spark, root, doc_id_min=lo, doc_id_max=hi)
    expected = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}


def test_many_part_doc_reassembles_packed_and_list(spark, tmp_path):
    """A 64-part oversized doc reassembles bit-identically in BOTH token
    representations. The packed path is the VERDICT r3 quadratic corner:
    reassembly is now a linear Arrow-stage stitch (one np.concatenate
    per doc), so part count only costs O(total bytes)."""
    import numpy as np

    from pyspark.sql import functions as F

    root = str(tmp_path / "t64")
    n = 64 * 100  # 64 parts at a 100-token budget
    toks = [int(x) for x in np.arange(n) % 251]
    df = spark.createDataFrame(
        [("big-0", toks, n, "web"), ("small-0", [7, 8, 9], 3, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=1,
                      max_chunk_tokens=100)
    parts = (encode_job.read_pages(spark, root)
             .filter("doc_parts > 1").agg(F.max("doc_parts")).collect()[0][0])
    assert parts == 64
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # packed: same bytes as packing the original ints little-endian
    got = {r.doc_id: bytes(r.tokens)
           for r in decode_job.decode(spark, root, packed=True).collect()}
    assert got["big-0"] == np.array(toks, dtype="<i4").tobytes()
    assert got["small-0"] == np.array([7, 8, 9], dtype="<i4").tobytes()
    # projection-only decode still yields one identity row per doc
    ids = sorted(r.doc_id for r in
                 decode_job.decode(spark, root, columns=["doc_id"]).collect())
    assert ids == ["big-0", "small-0"]
    # n_tok-only decode sums the parts
    nt = {r.doc_id: r.n_tok for r in decode_job.decode(
        spark, root, columns=["doc_id", "n_tok"]).collect()}
    assert nt == {"big-0": n, "small-0": 3}


def _part_row(doc_id: str, toks, part: int):
    """One split-part page row (single-doc chunk), as _stitch sees it."""
    import numpy as np
    import pyarrow as pa

    from tokencodec import pageformat

    def spage(s: str) -> bytes:
        b = s.encode()
        return pageformat.encode_string_page(
            np.array([0, len(b)], dtype=np.int64), np.frombuffer(b, np.uint8))

    return {
        "page_doc_id": spage(doc_id),
        "page_source": spage("src"),
        "page_tokens": pageformat.encode_int_page(
            np.asarray(toks, dtype=np.int64)),
        "page_n_tok": pageformat.encode_int_page(
            np.array([len(toks)], dtype=np.int64)),
        "split_uid": f"{doc_id}-uid",
        "doc_part": part,
    }


def test_stitch_flushes_before_int32_offset_overflow(monkeypatch):
    """ADVICE r4 (medium): packed value bytes of one output batch must
    never pass int32, or the offsets would astype-wrap silently. The
    stitch gives each reassembled doc its own batch, so docs that fit
    the ceiling one by one never add up past it; driven in-process with
    a shrunken ceiling."""
    import numpy as np
    import pyarrow as pa

    from tokencodec.spark import decode_job as dj

    monkeypatch.setattr(dj, "STITCH_INT32_SAFE", 1000)   # 250 tokens
    cols = ["doc_id", "tokens", "n_tok", "source"]

    rng = np.random.default_rng(7)
    docs = {f"d{i}": rng.integers(0, 1 << 20, 200) for i in range(3)}
    rows = []
    for did, toks in docs.items():  # two parts per doc, parts reversed
        rows.append(_part_row(did, toks[100:], 1))
        rows.append(_part_row(did, toks[:100], 0))
    parts = pa.Table.from_pylist(rows)

    out = list(dj._stitch(parts, cols, (), True, None, None))
    # 3 docs x 800 value bytes with a 1000-byte ceiling: one doc per batch
    assert [b.num_rows for b in out] == [1, 1, 1]
    got = {}
    for b in out:
        d = b.to_pylist()[0]
        assert len(d["tokens"]) == d["n_tok"] * 4
        got[d["doc_id"]] = np.frombuffer(d["tokens"], dtype="<i4")
    for did, toks in docs.items():
        assert np.array_equal(got[did], toks.astype(np.int32))


def test_stitch_raises_instead_of_wrapping(monkeypatch):
    """A single reassembled doc larger than the int32 ceiling must be a
    loud error, never silently corrupt packed offsets."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from tokencodec.spark import decode_job as dj

    monkeypatch.setattr(dj, "STITCH_INT32_SAFE", 1000)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    toks = np.arange(300)  # 1200 value bytes > ceiling, single group
    rows = [_part_row("big", toks[:150], 0), _part_row("big", toks[150:], 1)]
    with pytest.raises(ValueError, match="int32 binary offsets"):
        list(dj._stitch(pa.Table.from_pylist(rows), cols, (), True, None,
                        None))
    # a whole chunk past the ceiling raises the same way
    with pytest.raises(ValueError, match="int32 binary offsets"):
        dj._decode_chunk(_part_row("big", toks, 0), cols, True)
