"""Degenerate-warehouse sweep: EVERY registry query must execute —
under ANSI semantics, the driver's mode — on a schema-identical
warehouse built entirely from the degenerate shapes the driver
fixtures never produce.

Round 6's five ADVICE bugs were one class: an unguarded expression
meets an input shape the fixture can't generate (a size-1 A/B arm, a
zero-variance group, a zero-norm vector, an empty join side). The
static divide lint (tests/test_plan_lint.py) catches the division
subclass; this sweep is the DYNAMIC guard for the whole class — it
runs all ~293 queries end-to-end on data where every such shape is
present at once:

- a ZERO embedding vector, exact-duplicate vectors, a size-1 label,
- one user owning nearly all events, a size-1 event-type arm,
  zero-variance values, identical timestamps,
- empty / whitespace-only / single-char / exact-duplicate documents,
  a size-1 source and a size-1 language,
- zero prices, zero quantities, a single returnflag group, one
  shipdate (length-1 time series), an order with no lineitems,
  regions with no nations.

Pass = the query returns (possibly zero rows) without raising. A crash
here is a real 100 TB incident: at scale, some partition or filtered
slice ALWAYS degenerates to these shapes.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest

from data_warehouse_co_healthy_spark.plans import queries as reg

reg.register_llm_modules()

_TS = dt.datetime(2024, 3, 1, 12, 0, 0)


def _write(dir_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    def t(name, cols, schema):
        pq.write_table(
            pa.table(cols, schema=pa.schema(schema)),
            f"{dir_path}/{name}.parquet",
        )

    t("region",
      {"r_regionkey": [0, 1, 2, 3, 4],
       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
      [("r_regionkey", pa.int32()), ("r_name", pa.string())])

    # regions 2-4 have NO nations (empty join side downstream)
    t("nation",
      {"n_nationkey": [0, 1, 2],
       "n_name": ["ALPHA", "BRAVO", "CHARLIE"],
       "n_regionkey": [0, 0, 1]},
      [("n_nationkey", pa.int32()), ("n_name", pa.string()),
       ("n_regionkey", pa.int32())])

    # one mktsegment, one zero balance
    t("customer",
      {"c_custkey": [1, 2], "c_name": ["cust#1", "cust#2"],
       "c_nationkey": [0, 1], "c_acctbal": [0.0, 10.0],
       "c_mktsegment": ["BUILDING", "BUILDING"]},
      [("c_custkey", pa.int64()), ("c_name", pa.string()),
       ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
       ("c_mktsegment", pa.string())])

    t("supplier",
      {"s_suppkey": [1, 2], "s_name": ["supp#1", "supp#2"],
       "s_nationkey": [0, 2], "s_acctbal": [0.0, 5.0]},
      [("s_suppkey", pa.int64()), ("s_name", pa.string()),
       ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])

    # zero size, zero retail price
    t("part",
      {"p_partkey": [1, 2], "p_name": ["zero part", "plain part"],
       "p_brand": ["Brand#0", "Brand#0"],
       "p_type": ["ECONOMY", "ECONOMY"],
       "p_size": [0, 1], "p_retailprice": [0.0, 100.0]},
      [("p_partkey", pa.int64()), ("p_name", pa.string()),
       ("p_brand", pa.string()), ("p_type", pa.string()),
       ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    # order 3 has NO lineitems; single orderdate; equal totals
    t("orders",
      {"o_orderkey": [1, 2, 3], "o_custkey": [1, 1, 2],
       "o_orderstatus": ["O", "O", "F"],
       "o_totalprice": [100.0, 100.0, 100.0],
       "o_orderdate": [_TS, _TS, _TS],
       "o_orderpriority": ["1-URGENT", "1-URGENT", "1-URGENT"]},
      [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
       ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
       ("o_orderdate", pa.timestamp("us")),
       ("o_orderpriority", pa.string())])

    # single returnflag/linestatus group, one shipdate, a zero-quantity
    # zero-price row, zero discount/tax everywhere
    t("lineitem",
      {"l_orderkey": [1, 1, 2, 2],
       "l_partkey": [1, 2, 2, 2], "l_suppkey": [1, 1, 2, 2],
       "l_linenumber": [1, 2, 1, 2],
       "l_quantity": [0.0, 1.0, 1.0, 1.0],
       "l_extendedprice": [0.0, 100.0, 100.0, 100.0],
       "l_discount": [0.0, 0.0, 0.0, 0.0],
       "l_tax": [0.0, 0.0, 0.0, 0.0],
       "l_returnflag": ["N", "N", "N", "N"],
       "l_linestatus": ["O", "O", "O", "O"],
       "l_shipdate": [_TS, _TS, _TS, _TS]},
      [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
       ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
       ("l_quantity", pa.float64()),
       ("l_extendedprice", pa.float64()),
       ("l_discount", pa.float64()), ("l_tax", pa.float64()),
       ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
       ("l_shipdate", pa.timestamp("us"))])

    # user 1 owns 6 of 7 events; 'purchase' is a size-1 arm; all
    # values equal (zero variance); five IDENTICAL timestamps (zero
    # deltas); user 2 is a size-1 user with a zero value
    ts = [_TS] * 5 + [_TS + dt.timedelta(hours=1), _TS]
    t("events",
      {"event_id": [1, 2, 3, 4, 5, 6, 7],
       "ts": ts,
       "user_id": [1, 1, 1, 1, 1, 1, 2],
       "event_type": ["view", "view", "view", "view", "view",
                      "purchase", "view"],
       "value": [2.5, 2.5, 2.5, 2.5, 2.5, 2.5, 0.0],
       "props": ["{}", "{}", "{}", "{}", "{}", "", "{}"]},
      [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
       ("user_id", pa.int64()), ("event_type", pa.string()),
       ("value", pa.float64()), ("props", pa.string())])

    docs = [
        (0, "", "en", "srcA"),                      # empty
        (1, "   ", "en", "srcA"),                   # whitespace only
        (2, "a", "zz", "srcA"),                     # 1 char, 1-doc lang
        (3, "a a a a a a a a", "en", "srcA"),       # repetition soup
        (4, "the quick brown fox jumps over the lazy dog", "en",
         "srcA"),
        (5, "the quick brown fox jumps over the lazy dog", "en",
         "srcA"),                                   # exact duplicate
        (6, "café über naïve façade", "fr", "srcA"),
        (7, "lonely source document", "en", "lonely"),  # 1-doc source
    ]
    t("documents",
      {"doc_id": [d[0] for d in docs],
       "text": [d[1] for d in docs],
       "lang": [d[2] for d in docs],
       "source": [d[3] for d in docs],
       "n_chars": [len(d[1]) for d in docs]},
      [("doc_id", pa.int64()), ("text", pa.string()),
       ("lang", pa.string()), ("source", pa.string()),
       ("n_chars", pa.int64())])

    # 20 vectors (> every clustering constant): vec 0 is the ZERO
    # vector (norm 0), vecs 1-2 identical (dup ties), vec 3 constant,
    # vec 4 float32-subnormal-range, rest seeded gaussians; label 7 is
    # size-1 (n*(n-1) == 0 class)
    rng = np.random.default_rng(99)
    emb = rng.standard_normal((20, 64)).astype(np.float32)
    emb[0] = 0.0
    emb[2] = emb[1]
    emb[3] = 0.125
    emb[4] = np.float32(1e-38)
    labels = [7] + [1] * 10 + [2] * 9
    t("embeddings",
      {"vec_id": list(range(20)),
       "embedding": [v.tolist() for v in emb],
       "label": labels},
      [("vec_id", pa.int64()),
       ("embedding", pa.list_(pa.float32())),
       ("label", pa.int32())])


@pytest.fixture(scope="module")
def degen_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("degen_warehouse"))
    _write(d)
    return d


@pytest.fixture(scope="module")
def ansi(spark):
    """The driver runs vanilla Spark 4 (ANSI ON); the tuned test
    session is ANSI-off by design. Degenerate shapes crash precisely
    under ANSI (DIVIDE_BY_ZERO, CAST_OVERFLOW), so the sweep flips the
    runtime conf for its duration."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


#: The session conf the ``ansi`` fixture sets for the module.
_ANSI_ON = {"spark.sql.ansi.enabled": "true"}


@pytest.mark.parametrize("name", sorted(reg.QUERIES))
def test_query_survives_degenerate_warehouse(
    ansi, degen_dir, name, no_leaked_conf
):
    rows = reg.QUERIES[name](ansi, degen_dir).collect()
    # sanity on what does come back: no query may emit a non-finite
    # double (inf OR NaN) — undefined values must surface as NULL
    for r in rows:
        for v in r:
            if isinstance(v, float):
                assert math.isfinite(v), f"{name}: non-finite in {r}"
    no_leaked_conf(name, _ANSI_ON)


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    """Tier 2: every table ZERO rows, schema-identical. At scale this
    is a pruned-away partition, an over-tight filter, a first load —
    the engine must return empty results, not IndexError/ZeroDivision
    from a driver-side trainer's collect()."""
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("empty_warehouse"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        src = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(src.slice(0, 0), f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize("name", sorted(reg.QUERIES))
def test_query_survives_empty_warehouse(ansi, empty_dir, name, no_leaked_conf):
    reg.QUERIES[name](ansi, empty_dir).collect()
    no_leaked_conf(name, _ANSI_ON)


@pytest.fixture(scope="module")
def tiny_emb_dir(spark, tmp_path_factory):
    """Tier 3 (targeted): 1 < n < every clustering constant — the gap
    between the 20-vector degenerate tier and the zero-row tier. A
    3-vector corpus slice must train 3 centroids, not index
    centroids[K_CLUSTERS-1]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("tiny_emb"))
    rng = np.random.default_rng(5)
    emb = rng.standard_normal((3, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {"vec_id": [0, 1, 2],
             "embedding": [v.tolist() for v in emb],
             "label": [0, 1, 0]},
            schema=pa.schema(
                [("vec_id", pa.int64()),
                 ("embedding", pa.list_(pa.float32())),
                 ("label", pa.int32())]
            ),
        ),
        f"{d}/embeddings.parquet",
    )
    return d


@pytest.fixture(scope="module")
def span_edge_dirs(spark, tmp_path_factory):
    """Tier 4 (targeted, VERDICT r8 item 7): the span family's
    adversarial corpus shapes the 8-doc degenerate tier never
    produces. (a) ALL-DUPLICATE: every document identical — every
    gram occurs corpus-wide ≥ 2, so the whole document is ONE merged
    span and the cut must produce clean_len 0 (the full-document-cut
    edge of the interval merge + segment fold). (b) SINGLE-DOC, two
    variants: unique text (no duplicated gram anywhere → zero spans,
    cut is the identity) and internally repetitive text (the
    duplicated-gram set is fed entirely by self-occurrences — spans
    exist with no second document)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(d, docs):
        pq.write_table(
            pa.table(
                {"doc_id": [x[0] for x in docs],
                 "text": [x[1] for x in docs],
                 "lang": ["en"] * len(docs),
                 "source": ["srcA"] * len(docs),
                 "n_chars": [len(x[1]) for x in docs]},
                schema=pa.schema(
                    [("doc_id", pa.int64()), ("text", pa.string()),
                     ("lang", pa.string()), ("source", pa.string()),
                     ("n_chars", pa.int64())]
                ),
            ),
            f"{d}/documents.parquet",
        )

    base = tmp_path_factory.mktemp("span_edges")
    boiler = "all rights reserved under the license agreement terms"
    alldup = str(base / "alldup")
    single_uniq = str(base / "single_uniq")
    single_rep = str(base / "single_rep")
    for d in (alldup, single_uniq, single_rep):
        import os

        os.makedirs(d, exist_ok=True)
    write(alldup, [(i, boiler) for i in range(4)])
    write(single_uniq, [(0, "abcdefghijklmnopqrstuvwxyz0123456789")])
    write(single_rep, [(0, "xyzq" * 16)])  # every gram self-repeats
    return {"alldup": alldup, "single_uniq": single_uniq,
            "single_rep": single_rep}


def test_span_family_all_duplicate_corpus(ansi, span_edge_dirs):
    """Every doc identical → one span covering the whole (lowercased)
    text per doc, and the cut removes EVERYTHING: clean_len 0,
    clean_fp = md5('') — the full-document-cut edge."""
    import hashlib

    from data_warehouse_co_healthy_spark.llm import dedup

    d = span_edge_dirs["alldup"]
    spans = {
        r.doc_id: (r.span_start, r.span_len)
        for r in dedup.duplicate_spans(ansi, d).collect()
    }
    text_len = 53  # len of the boilerplate line
    assert set(spans) == {0, 1, 2, 3}
    assert all(v == (1, text_len) for v in spans.values())

    cut = {r.doc_id: r for r in
           dedup.cut_duplicate_spans(ansi, d).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    for r in cut.values():
        assert r.n_spans == 1
        assert r.chars_cut == text_len
        assert r.clean_len == 0
        assert r.clean_fp == empty_md5


def test_span_family_single_doc_corpus(ansi, span_edge_dirs):
    """One document, no duplicated gram → zero spans and an identity
    cut; one internally-repetitive document → spans from pure
    self-occurrence, still cut correctly."""
    import hashlib

    from data_warehouse_co_healthy_spark.llm import dedup

    uniq = span_edge_dirs["single_uniq"]
    assert dedup.duplicate_spans(ansi, uniq).count() == 0
    (r,) = dedup.cut_duplicate_spans(ansi, uniq).collect()
    assert (r.n_spans, r.chars_cut) == (0, 0)
    assert r.clean_len == 36
    assert r.clean_fp == hashlib.md5(
        b"abcdefghijklmnopqrstuvwxyz0123456789"
    ).hexdigest()

    rep = span_edge_dirs["single_rep"]
    spans = dedup.duplicate_spans(ansi, rep).collect()
    assert len(spans) == 1  # one maximal self-repeating span
    assert (spans[0].span_start, spans[0].span_len) == (1, 64)
    (r,) = dedup.cut_duplicate_spans(ansi, rep).collect()
    assert (r.n_spans, r.clean_len) == (1, 0)


@pytest.mark.parametrize(
    "name",
    ["kmeans_embeddings", "semantic_dedup", "ann_ivf_kmeans",
     "kcenter_coreset", "pq_encode", "ann_pq_adc", "ann_pq_refine",
     "cosine_topk_pandas", "pca_whiten_embeddings",
     "mahalanobis_outliers", "quality_classifier"],
)
def test_trainers_survive_fewer_rows_than_clusters(
    ansi, tiny_emb_dir, name
):
    reg.QUERIES[name](ansi, tiny_emb_dir).collect()


# ---------------------------------------------------------------------------
# Corrupt-payload fuzz tier (VERDICT r9 item 7): mutated REAL containers
# fed to all four vendored codecs. Contract: every mutation below raises
# ValueError naming the problem — never a raw crash (IndexError,
# struct.error, zlib.error) and never silently-wrong stats. Each case is
# a lie a real data lake actually tells: truncated uploads, bit rot,
# re-CRC'd tampering, headers that promise a different body.
# ---------------------------------------------------------------------------

import struct
import zlib

import numpy as np

from data_warehouse_co_healthy_spark.llm import (
    audiocodec,
    gifcodec,
    imagecodec,
)

_IMG = np.full((13, 14, 3), 100, dtype=np.uint8)
_PAL16 = np.stack(
    [
        (5 * np.arange(16)) % 256,
        (11 * np.arange(16)) % 256,
        (23 * np.arange(16)) % 256,
    ],
    axis=1,
).astype(np.uint8)


def _jpeg() -> bytes:
    return imagecodec.encode_jpeg_baseline(_IMG)


def _png() -> bytes:
    return imagecodec.encode_png(_IMG)


def _gif() -> bytes:
    frames = [
        ((3 * np.arange(20)) % 16).astype(np.uint8).reshape(4, 5),
        ((7 + 3 * np.arange(20)) % 16).astype(np.uint8).reshape(4, 5),
    ]
    return gifcodec.encode_gif(frames, _PAL16)


def _wav() -> bytes:
    s = ((17 * np.arange(100)) % 4001 - 2000).astype(np.int16)
    return audiocodec.encode_wav(s, sample_rate=16_000)


def _png_with_fixed_crc(mutate) -> bytes:
    """Apply ``mutate(bytearray)`` then re-CRC every chunk, modeling a
    tamperer who keeps the container self-consistent."""
    b = bytearray(_png())
    mutate(b)
    pos = 8
    while pos + 12 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        body = bytes(b[pos + 4:pos + 8 + ln])
        struct.pack_into(
            ">I", b, pos + 8 + ln, zlib.crc32(body) & 0xFFFFFFFF
        )
        pos += 12 + ln
    return bytes(b)


def _wav_fmt_patch(field_off: int, value: int) -> bytes:
    b = bytearray(_wav())
    struct.pack_into("<H", b, b.index(b"fmt ") + 8 + field_off, value)
    return bytes(b)


def _gif_overlong_first_code() -> tuple[bytes, int, int]:
    """Raw LZW stream whose first post-clear code (31) exceeds the
    16-root table — the over-long-code lie fed straight to the
    decoder core."""
    out, acc, n = bytearray(), 0, 0
    for code in (16, 31):  # clear, then out-of-range
        acc |= code << n
        n += 5
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out), 4, 10


_JPEG_CASES = {
    "bad_soi": lambda p: b"XX" + p[2:],
    "bad_marker_byte": lambda p: p[:2] + b"\x00" + p[3:],
    "truncated_segment": lambda p: p[: int(len(p) * 0.6)],
    "truncated_scan": lambda p: p[:-10],
}

_PNG_CASES = {
    "bad_signature": lambda p: b"\x89PNX" + p[4:],
    "idat_bit_flip_crc": lambda p: _flip(p, p.index(b"IDAT") + 8),
    "truncated_iend": lambda p: p[:-5],
    "adam7_claim": lambda p: _png_with_fixed_crc(
        lambda b: b.__setitem__(16 + 12, 1)
    ),
    "deflate_corrupt_recrcd": lambda p: _png_with_fixed_crc(
        lambda b: b.__setitem__(
            bytes(b).index(b"IDAT") + 10,
            b[bytes(b).index(b"IDAT") + 10] ^ 0x55,
        )
    ),
}

_GIF_CASES = {
    "bad_magic": lambda p: b"XIF89a" + p[6:],
    "truncated_lzw": lambda p: p[:-8],
    "unknown_block": lambda p: p[:-1] + b"\x00\x3b",
}

_WAV_CASES = {
    "bad_magic": lambda p: b"XIFF" + p[4:],
    "float_tag_lie": lambda p: _wav_fmt_patch(0, 3),
    "bit_depth_lie": lambda p: _wav_fmt_patch(14, 8),
    "channel_lie": lambda p: _wav_fmt_patch(2, 3),
    "truncated_data": lambda p: p[:-7],
    "length_lie": lambda p: _patch_u32(p, p.index(b"data") + 4, 10_000),
}


def _flip(p: bytes, off: int) -> bytes:
    b = bytearray(p)
    b[off] ^= 0xFF
    return bytes(b)


def _patch_u32(p: bytes, off: int, v: int) -> bytes:
    b = bytearray(p)
    struct.pack_into("<I", b, off, v)
    return bytes(b)


@pytest.mark.parametrize("case", sorted(_JPEG_CASES))
def test_fuzz_jpeg_mutations_raise_valueerror(case):
    with pytest.raises(ValueError):
        imagecodec.decode(_JPEG_CASES[case](_jpeg()))


@pytest.mark.parametrize("case", sorted(_PNG_CASES))
def test_fuzz_png_mutations_raise_valueerror(case):
    with pytest.raises(ValueError):
        imagecodec.decode(_PNG_CASES[case](_png()))


@pytest.mark.parametrize("case", sorted(_GIF_CASES))
def test_fuzz_gif_mutations_raise_valueerror(case):
    with pytest.raises(ValueError):
        gifcodec.decode_gif(_GIF_CASES[case](_gif()))


def test_fuzz_gif_overlong_lzw_code_raises():
    data, mcs, n_px = _gif_overlong_first_code()
    with pytest.raises(ValueError, match="corrupt GIF LZW code"):
        gifcodec._lzw_decode(data, mcs, n_px)


def test_fuzz_gif_short_lzw_stream_raises():
    # a valid 2-code stream (clear, end) that promises 10 pixels but
    # delivers zero must refuse, not pad or crop
    out, acc, n = bytearray(), 0, 0
    for code in (16, 17):  # clear, end
        acc |= code << n
        n += 5
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    with pytest.raises(ValueError, match="ended before raster"):
        gifcodec._lzw_decode(bytes(out), 4, 10)


@pytest.mark.parametrize("case", sorted(_WAV_CASES))
def test_fuzz_wav_mutations_raise_valueerror(case):
    with pytest.raises(ValueError):
        audiocodec.decode_wav(_WAV_CASES[case](_wav()))


def test_fuzz_prefix_truncation_never_crashes_raw():
    """Systematic prefix truncation of all four containers: every
    prefix either decodes to the full-fidelity result (impossible for
    strict prefixes of these encodings) or raises ValueError — never
    an IndexError/struct.error/zlib.error escape."""
    payloads = {
        "jpeg": (_jpeg(), imagecodec.decode),
        "png": (_png(), imagecodec.decode),
        "gif": (_gif(), gifcodec.decode_gif),
        "wav": (_wav(), audiocodec.decode_wav),
    }
    for name, (p, dec) in payloads.items():
        for cut in range(1, len(p), 7):
            try:
                dec(p[:cut])
            except ValueError:
                continue
            raise AssertionError(
                f"{name} prefix of {cut}/{len(p)} bytes decoded "
                "without error"
            )
