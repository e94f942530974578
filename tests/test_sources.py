"""Source/sink connector tests (SURVEY §2.1-2.2 parity surface)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from data_warehouse_co_healthy_spark.llm import multimodal
from data_warehouse_co_healthy_spark.schemas import REFERENCE, TESTDATA
from data_warehouse_co_healthy_spark.sources import readers, writers
from tests.conftest import SF_DIR


def test_read_parquet_with_schema(spark):
    df = readers.read_parquet(
        spark, f"{SF_DIR}/nation.parquet", TESTDATA["nation"]
    )
    assert df.count() == 25
    assert df.schema == TESTDATA["nation"]


def test_load_table_rejects_nanosecond_timestamps(spark, tmp_path):
    """Every fixture stores timestamps as TIMESTAMP(MICROS); a
    TIMESTAMP(NANOS) file fails loudly instead of being read through a
    session-wide legacy conf."""
    import pandas as pd
    from pyspark.errors import AnalysisException

    from data_warehouse_co_healthy_spark.catalog import load_table

    pd.DataFrame(
        {"event_id": [0], "ts": pd.to_datetime(["2024-01-01"])}
    ).to_parquet(tmp_path / "events.parquet", index=False)
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, str(tmp_path), "events").collect()


def test_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "nation_csv")
    df = readers.read_parquet(spark, f"{SF_DIR}/nation.parquet")
    writers.write_csv(df, out)
    back = spark.read.schema(TESTDATA["nation"]).csv(out, header=True)
    assert back.count() == 25
    assert {r.n_name for r in back.collect()} == {
        r.n_name for r in df.collect()
    }


def test_jdbc_round_trip_partitioned_read(spark):
    """S1/K2: write_jdbc appends into an in-memory Derby table and
    read_jdbc reads it back fanned out over two partition-column
    ranges; the NULL survives the trip."""
    import uuid

    url = f"jdbc:derby:memory:sg_{uuid.uuid4().hex};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([(1, "a"), (2, None)], "k int, v string")
    writers.write_jdbc(df, url, "t", props)
    back = readers.read_jdbc(
        spark, url, "t", props,
        partition_column="k", lower_bound=0, upper_bound=4,
        num_partitions=2,
    )
    assert back.rdd.getNumPartitions() == 2
    assert sorted(back.collect()) == [(1, "a"), (2, None)]


def test_partitioned_parquet_prunes(spark, tmp_path):
    """Partitioned write → a partition-filtered read lists only matching
    directories (partition pruning — SURVEY §4)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "orders_part")
    df = readers.read_parquet(spark, f"{SF_DIR}/orders.parquet").withColumn(
        "anio", F.year("o_orderdate")
    )
    writers.write_parquet(df, out, partition_by=("anio",))
    assert len(glob.glob(os.path.join(out, "anio=*"))) > 1
    back = spark.read.parquet(out).filter(F.col("anio") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() > 0
    assert "anio=1995" not in out  # sanity: filter applied at read, not path


def test_rest_json_reader_offline(spark):
    rows = [
        {"municipio": "Bogotá D.C.", "departamento": "Cund", "region": "Andina"},
        {"municipio": "Medellín", "departamento": "Ant", "region": "Andina"},
    ]
    df = readers.read_rest_json(
        spark, lambda: rows, REFERENCE["regiones_co"], limit=1200
    )
    assert df.count() == 2
    assert df.schema == REFERENCE["regiones_co"]


def test_rest_bulk_insert_distributed(spark, tmp_path):
    """The K1-analog sink posts per-partition batches (no driver
    collect); the injected poster records payloads to disk."""
    outdir = tmp_path / "posts"
    outdir.mkdir()
    spool = str(outdir)

    def post(table, body):
        import uuid

        with open(os.path.join(spool, f"{table}-{uuid.uuid4().hex}.json"), "w") as f:
            f.write(body)

    df = readers.read_parquet(spark, f"{SF_DIR}/region.parquet")
    writers.rest_bulk_insert(df, "dim_region", post, batch_size=2)
    files = glob.glob(os.path.join(spool, "dim_region-*.json"))
    rows = [r for f in files for r in json.load(open(f))]
    assert len(rows) == 5
    assert {r["r_name"] for r in rows} == {
        r.r_name for r in df.collect()
    }


def test_excel_reader_rejects_garbage(spark, tmp_path):
    """A corrupt payload must raise (never a silent wrong read)."""
    fake = tmp_path / "catalog.xls"
    fake.write_bytes(b"\xd0\xcf\x11\xe0 not really an xls")
    with pytest.raises(Exception):
        readers.read_excel_catalog(
            spark, str(fake), REFERENCE["medicamentos"]
        ).collect()


REAL_CATALOG = "/root/reference/medicamentos.xls"


@pytest.mark.skipif(
    not os.path.exists(REAL_CATALOG), reason="reference catalog absent"
)
def test_excel_reader_parses_real_drug_catalog(spark):
    """S4 end-to-end on the REAL reference file (closes the last §2.1
    source): the vendored BIFF8 reader must recover the full catalog —
    row count, headers, and spot values pinned against manual
    inspection of the sheet (reference dimension.py:62-64)."""
    df = readers.read_excel_catalog(
        spark, REAL_CATALOG, REFERENCE["medicamentos"]
    )
    rows = df.collect()
    assert len(rows) == 262
    assert df.columns == [
        "Código", "Nombre Genérico", "Forma Farmacéutica", "Presentación",
        "Laboratorio y Registro", "Precio", "Tipo Medicamento",
    ]
    first = rows[0]
    assert first["Código"] == "1012"
    assert first["Nombre Genérico"] == "ACICLOVIR"
    assert first["Precio"] == 3500.0
    # every code is unique and every price numeric-positive
    assert df.select("Código").distinct().count() == 262
    assert df.filter(df["Precio"] <= 0).count() == 0


@pytest.mark.skipif(
    not os.path.exists(REAL_CATALOG), reason="reference catalog absent"
)
def test_dim_medicamento_from_real_catalog(spark):
    """The reference's dim build (drop Forma Farmacéutica + rename map +
    dropDuplicates, dimension.py:61-73) over the REAL catalog."""
    from data_warehouse_co_healthy_spark.pipelines import dimensions

    raw = readers.read_excel_catalog(
        spark, REAL_CATALOG, REFERENCE["medicamentos"]
    )
    dim = dimensions.dim_medicamento(raw)
    assert dim.count() == 262
    assert "Forma Farmacéutica" not in dim.columns
    assert {"codigo", "nombre", "presentacion", "laboratorio_registro",
            "precio", "tipo_medicamento", "medicamento_id"} <= set(
        dim.columns
    )
    acic = dim.filter(dim.codigo == "1012").first()
    assert acic.nombre == "ACICLOVIR" and acic.precio == 3500.0


def test_multimodal_feature_extraction(spark):
    feats = multimodal.extract_features(
        multimodal.media_from_documents(spark, SF_DIR)
    ).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(feats) == n_docs
    assert (feats.byte_len > 0).all()
    assert feats.checksum.str.len().eq(32).all()
    assert set(feats.kind) == {"image", "audio"}


def test_multimodal_decode_unsupported_format_raises():
    """Formats needing a codec library (WebP here) fail LOUDLY, never
    silently — the honest boundary of the vendored codec."""
    with pytest.raises(ValueError, match="unsupported image format"):
        multimodal.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_png_codec_roundtrip_filters_and_variants():
    """PNG is lossless: encode→decode is the identity for RGB; the
    decoder also reconstructs every scanline filter type (a Sub/Up/
    Average/Paeth stream crafted by re-filtering the raster by hand),
    handles gray and RGBA inputs, verifies chunk CRCs, and rejects
    profiles outside its declared scope loudly."""
    import binascii
    import struct as _struct
    import zlib

    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    assert np.array_equal(
        imagecodec.decode(imagecodec.encode_png(img)), img
    )

    # hand-filter the same raster with Sub/Up/Average/Paeth cycling
    h, w = img.shape[:2]
    bpp, stride = 3, w * 3
    flat = img.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = (y % 4) + 1  # 1=Sub 2=Up 3=Average 4=Paeth
        raw.append(ft)
        cur = flat[y]
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 1:
                v = cur[x] - a
            elif ft == 2:
                v = cur[x] - b
            elif ft == 3:
                v = cur[x] - (a + b) // 2
            else:
                v = cur[x] - imagecodec._paeth(int(a), int(b), int(c))
            raw.append(int(v) % 256)
        prev = cur

    def chunk(tag, payload):
        crc = binascii.crc32(tag + payload) & 0xFFFFFFFF
        return (_struct.pack(">I", len(payload)) + tag + payload
                + _struct.pack(">I", crc))

    png = (imagecodec._PNG_SIG
           + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert np.array_equal(imagecodec.decode_png(png), img)

    # gray broadcast + RGBA alpha strip
    gray = rng.integers(0, 256, size=(4, 5), dtype=np.uint8)
    raw_g = bytearray()
    for y in range(4):
        raw_g.append(0)
        raw_g += gray[y].tobytes()
    png_g = (imagecodec._PNG_SIG
             + chunk(b"IHDR", _struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(bytes(raw_g)))
             + chunk(b"IEND", b""))
    out_g = imagecodec.decode_png(png_g)
    assert np.array_equal(out_g, np.repeat(gray[:, :, None], 3, axis=2))

    # corrupted CRC and out-of-scope profiles raise
    bad = bytearray(imagecodec.encode_png(img))
    bad[-6] ^= 0xFF  # flip a CRC byte of IEND
    with pytest.raises(ValueError, match="CRC mismatch"):
        imagecodec.decode_png(bytes(bad))
    png16 = (imagecodec._PNG_SIG
             + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)))
    with pytest.raises(ValueError, match="bit depth"):
        imagecodec.decode_png(png16)


def test_image_codec_roundtrip_all_paddings():
    """encode→decode is the identity for every BMP row-padding case
    (widths 5/6/7/8 → pad 3/2/1/0... i.e. 1/2/3/0 bytes) and for PPM."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    rng = np.random.default_rng(7)
    for w in (5, 6, 7, 8, 1, 64):
        for h in (1, 3, 4):
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert (imagecodec.decode_bmp(
                imagecodec.encode_bmp(img)) == img).all(), (w, h)
            assert (imagecodec.decode_ppm(
                imagecodec.encode_ppm(img)) == img).all(), (w, h)
            # magic-byte dispatch picks the right parser
            assert (imagecodec.decode(
                imagecodec.encode_bmp(img)) == img).all()
            assert (imagecodec.decode(
                imagecodec.encode_ppm(img)) == img).all()


def test_jpeg_codec_gray_exact_all_variants():
    """The jpeg_decode_stats oracle's exactness argument, pinned: a
    solid gray with EVEN value decodes bit-exactly through every
    coding variant — 4:4:4, 4:2:0 subsampled, restart intervals —
    because Y=v/Cb=Cr=128 is exact, a constant block is DC-only, and
    the Annex-K DC quantizers divide 8·(v−128) for even v."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    for v in (0, 2, 64, 128, 200, 254):
        for sub in (False, True):
            for rst in (0, 2):
                img = np.full((5, 7, 3), v, dtype=np.uint8)
                out = imagecodec.decode(
                    imagecodec.encode_jpeg_baseline(
                        img, subsample=sub, restart_interval=rst
                    )
                )
                assert np.array_equal(out, img), (v, sub, rst)


def test_jpeg_codec_gradient_bounded_error():
    """Lossy-but-correct: a smooth gradient survives encode→decode
    within single-digit per-channel error in every variant (a Huffman
    /zigzag/DC-prediction/IDCT bug produces garbage, not ±10), and
    the decoded shape equals the source even when dimensions are not
    MCU multiples (edge-block crop)."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    y, x = np.mgrid[0:33, 0:29]
    img = np.stack(
        [(6 * y).clip(0, 255), (6 * x).clip(0, 255),
         (3 * x + 3 * y).clip(0, 255)],
        axis=2,
    ).astype(np.uint8)
    for sub in (False, True):
        for rst in (0, 3):
            out = imagecodec.decode_jpeg(
                imagecodec.encode_jpeg_baseline(
                    img, subsample=sub, restart_interval=rst
                )
            )
            assert out.shape == img.shape
            d = np.abs(out.astype(int) - img.astype(int))
            assert d.max() <= 12, (sub, rst, d.max())


def test_jpeg_codec_rejects_progressive_and_truncation():
    """The honest boundary: progressive JPEG (SOF2) raises naming the
    unsupported process; a truncated entropy segment raises rather
    than returning garbage."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    # a 13x11 canvas is a 2x2 MCU grid at 4:4:4 — restart_interval=2
    # must emit a real RSTn marker mid-stream (the graded
    # jpeg_decode_stats 'rst' variant relies on this; at one-MCU
    # sizes the variant would silently degenerate to plain 4:4:4)
    big = np.full((11, 13, 3), 100, dtype=np.uint8)
    rst_payload = imagecodec.encode_jpeg_baseline(
        big, restart_interval=2
    )
    sos_at = rst_payload.find(b"\xff\xda")
    assert any(
        bytes([0xFF, 0xD0 + i]) in rst_payload[sos_at:] for i in range(8)
    ), "no RSTn marker in the entropy stream"
    assert np.array_equal(imagecodec.decode(rst_payload), big)

    img = np.full((8, 8, 3), 100, dtype=np.uint8)
    data = bytearray(imagecodec.encode_jpeg_baseline(img))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline sequential only"):
        imagecodec.decode_jpeg(bytes(data))

    good = imagecodec.encode_jpeg_baseline(img)
    with pytest.raises(ValueError):
        # cut inside the entropy segment, drop EOI
        imagecodec.decode_jpeg(good[: len(good) // 2])


def test_gif_codec_lossless_animation_roundtrip():
    """Animated GIF89a round trip is LOSSLESS on indexed data across
    palette sizes (2/16/256 colors — the 256 case grows LZW codes to
    12 bits and forces dictionary resets), multi-frame sequences
    decode in order, a partial-rect frame composites onto the previous
    canvas, and interlace/garbage are rejected loudly."""
    import struct as _struct

    import numpy as np

    from data_warehouse_co_healthy_spark.llm import gifcodec

    rng = np.random.default_rng(13)
    for ncol in (2, 16, 256):
        pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        frames = [
            rng.integers(0, ncol, size=(9, 13), dtype=np.uint8)
            for _ in range(3)
        ]
        dec = gifcodec.decode_gif(gifcodec.encode_gif(frames, pal))
        assert len(dec) == 3
        for d, f in zip(dec, frames):
            assert np.array_equal(d, pal[f]), ncol

    # big frame: guarantees 12-bit growth + at least one dict reset
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    big = rng.integers(0, 256, size=(64, 90), dtype=np.uint8)
    dec = gifcodec.decode_gif(gifcodec.encode_gif([big], pal))
    assert np.array_equal(dec[0], pal[big])

    # partial-rect second frame composites onto the first canvas
    base = gifcodec.encode_gif(
        [np.zeros((6, 8), dtype=np.uint8)],
        np.array([[0, 0, 0], [255, 0, 0]], dtype=np.uint8),
    )
    # splice a hand-built 2x2 frame at (left=3, top=2), indices all 1
    idx = np.ones((2, 2), dtype=np.uint8)
    lzw = gifcodec._lzw_encode(idx, 2)
    frame = (b"\x2c" + _struct.pack("<HHHHB", 3, 2, 2, 2, 0)
             + bytes([2]) + gifcodec._subblocks(lzw))
    spliced = base[:-1] + frame + b"\x3b"
    dec = gifcodec.decode_gif(spliced)
    assert len(dec) == 2
    assert dec[1][2, 3].tolist() == [255, 0, 0]  # painted rect
    assert dec[1][0, 0].tolist() == [0, 0, 0]    # untouched canvas

    with pytest.raises(ValueError, match="not a GIF"):
        gifcodec.decode_gif(b"NOPE....")


def test_wav_codec_roundtrip_chunkwalk_and_rejection():
    """WAV is lossless PCM: encode→decode is the identity for mono
    and stereo int16; the decoder's chunk walk skips unknown chunks
    (a LIST chunk inserted between fmt and data, odd-length +
    word-aligned) and rejects non-PCM formats loudly."""
    import struct as _struct

    import numpy as np

    from data_warehouse_co_healthy_spark.llm import audiocodec

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32768, size=101, dtype=np.int16)
    out, rate = audiocodec.decode_wav(audiocodec.encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(out, mono)

    stereo = rng.integers(-32768, 32768, size=(40, 2), dtype=np.int16)
    out2, _ = audiocodec.decode_wav(audiocodec.encode_wav(stereo))
    assert out2.shape == (40, 2) and np.array_equal(out2, stereo)

    # splice an odd-length LIST chunk between fmt and data
    data = audiocodec.encode_wav(mono, 8000)
    di = data.find(b"data")
    junk = b"LIST" + _struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad
    spliced = data[:di] + junk + data[di:]
    spliced = (spliced[:4]
               + _struct.pack("<I", len(spliced) - 8) + spliced[8:])
    out3, _ = audiocodec.decode_wav(spliced)
    assert np.array_equal(out3, mono)

    # IEEE-float format tag rejected loudly
    bad = bytearray(audiocodec.encode_wav(mono, 8000))
    fi = bad.find(b"fmt ") + 8
    bad[fi:fi + 2] = _struct.pack("<H", 3)  # tag 3 = IEEE float
    with pytest.raises(ValueError, match="format tag 3"):
        audiocodec.decode_wav(bytes(bad))


def test_image_codec_topdown_bmp_and_ppm_comments():
    """Decoder-only paths an encoder round-trip can't reach: top-down
    BMP (negative height) and PPM header comments."""
    import struct

    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    data = bytearray(imagecodec.encode_bmp(img))
    # rewrite height to -h and flip the raster rows to top-down order
    (h,) = struct.unpack_from("<i", data, 22)
    struct.pack_into("<i", data, 22, -h)
    off = 54
    row_size = (3 * 3 + 3) // 4 * 4
    rows = [
        bytes(data[off + i * row_size : off + (i + 1) * row_size])
        for i in range(h)
    ]
    data[off:] = b"".join(reversed(rows))
    assert (imagecodec.decode_bmp(bytes(data)) == img).all()

    ppm = b"P6 # comment\n# another comment\n 3\n2 # dims done\n255\n" + \
        img.tobytes()
    assert (imagecodec.decode_ppm(ppm) == img).all()


def test_image_codec_rejects_malformed():
    import pytest as _pytest

    from data_warehouse_co_healthy_spark.llm import imagecodec

    with _pytest.raises(ValueError, match="truncated BMP raster"):
        imagecodec.decode_bmp(
            imagecodec.encode_bmp(
                __import__("numpy").zeros((4, 4, 3), dtype="uint8")
            )[:-5]
        )
    with _pytest.raises(ValueError, match="maxval"):
        imagecodec.decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="truncated PPM raster"):
        imagecodec.decode_ppm(b"P6\n2 2\n255\n\x00\x00\x00")


def test_image_files_roundtrip_binaryfile_source(spark, tmp_path):
    """End to end on REAL files: encoded .bmp/.ppm images written to
    disk, ingested via the binaryFile source (glob-pruned so a stray
    non-image is never read), decoded executor-side with the vendored
    codec — dims and pixels must survive the full trip."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec, multimodal

    rng = np.random.default_rng(3)
    imgs = {}
    for i in range(4):
        img = rng.integers(0, 256, size=(3 + i, 5 + i, 3), dtype=np.uint8)
        ext = "bmp" if i % 2 == 0 else "ppm"
        enc = (
            imagecodec.encode_bmp(img)
            if ext == "bmp"
            else imagecodec.encode_ppm(img)
        )
        (tmp_path / f"img_{i}.{ext}").write_bytes(enc)
        imgs[f"img_{i}.{ext}"] = img
    (tmp_path / "notes.txt").write_text("not an image")

    df = readers.read_binary_files(
        spark, str(tmp_path), glob="*.{bmp,ppm}"
    )
    rows = df.select("path", "content").collect()
    assert len(rows) == 4  # the .txt was glob-pruned
    for r in rows:
        name = r["path"].rsplit("/", 1)[1]
        decoded = multimodal.decode_image(bytes(r["content"]))
        assert (decoded == imgs[name]).all(), name


def test_image_decode_stats_spark_path(spark):
    """The registered query end-to-end on Spark: every document gets a
    decoded image whose dims follow the synthesis formula."""
    stats = multimodal.image_decode_stats(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(stats) == n_docs
    assert (stats.width == 5 + stats.media_id % 4).all()
    assert (stats.height == 3 + stats.media_id % 3).all()
    assert set(stats.fmt) == {"bmp", "ppm", "png"}
    assert (stats[stats.media_id % 3 == 0].fmt == "bmp").all()
    assert (stats[stats.media_id % 3 == 1].fmt == "ppm").all()
    assert (stats[stats.media_id % 3 == 2].fmt == "png").all()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join: lineitem and orders bucketed by orderkey into
    the same bucket count must join with ZERO Exchange in the plan —
    the bucketing contract that removes the dominant shuffle of every
    fact-to-fact join at scale."""
    li = readers.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    o = readers.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    writers.write_bucketed(
        li.select("l_orderkey", "l_quantity"), "li_b",
        ("l_orderkey",), 8, sort_cols=("l_orderkey",),
    )
    writers.write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "o_b",
        ("o_orderkey",), 8, sort_cols=("o_orderkey",),
    )
    # at fixture scale the planner would broadcast instead (also
    # shuffle-free, but not what we're proving); disable it so the plan
    # shows the big-big case: bucketed SMJ with no Exchange.
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.getAll.get(key)  # None: unset, restore by unset
    spark.conf.set(key, "-1")
    try:
        lb, ob = spark.table("li_b"), spark.table("o_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        assert joined.count() == li.count()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Facts partitioned by date key: a literal filter must become a
    PartitionFilter (static pruning), and a selective dim join must
    inject a dynamicpruning expression (DPP) — SURVEY §4's posture."""
    from pyspark.sql import functions as F

    li = readers.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    path = str(tmp_path / "li_part")
    writers.write_parquet(
        li.withColumn("ship_year", F.year("l_shipdate")),
        path,
        partition_by=("ship_year",),
    )
    part = spark.read.parquet(path)

    static = part.filter(F.col("ship_year") == 1996)
    splan = static._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in splan
    assert "ship_year" in splan.split("PartitionFilters: [", 1)[1].split(
        "]", 1
    )[0]

    years = spark.range(1).select(
        F.lit(1996).alias("y"), F.lit("pick").alias("tag")
    )
    joined = part.join(years, part.ship_year == years.y).filter(
        F.col("tag") == "pick"
    )
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in jplan.lower() or "PartitionFilters: [" in jplan


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Compaction: a fragmented write (32 partitions of tiny data)
    collapses to the target file count, content-identical, and
    range-clustered when sort columns are given."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "frag")
    li = readers.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    li.repartition(32).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before > 4
    n = writers.compact_parquet(spark, path, 2, sort_cols=("l_shipdate",))
    assert n <= 4  # range-partitioner may emit < target, never > 2x
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    assert back.agg(F.sum("l_quantity")).first()[0] == \
        li.agg(F.sum("l_quantity")).first()[0]


def test_versioned_snapshots_time_travel(spark, tmp_path):
    """Snapshot versioning: later writes never disturb earlier
    versions; default read returns the latest."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dim_versions")
    n = readers.read_parquet(spark, f"{SF_DIR}/nation.parquet")
    v1 = writers.write_versioned(n, path)
    v2 = writers.write_versioned(
        n.withColumn("n_name", F.upper("n_name")), path
    )
    assert (v1, v2) == (1, 2)
    latest = writers.read_version(spark, path)
    old = writers.read_version(spark, path, 1)
    assert latest.filter(latest.n_name != F.upper(latest.n_name)).count() == 0
    assert old.count() == n.count()
    assert {r.n_name for r in old.collect()} == {
        r.n_name for r in n.collect()
    }


def test_python_datasource_opendata(spark):
    """Spark 4 Python DataSource (S5 scale path): the open-data source
    reads through registered format(), schema declared, fetch split
    into one page per input partition on the executors."""
    from data_warehouse_co_healthy_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("opendata")
        .option("limit", "1200")
        .option("page_size", "100")
        .load()
    )
    assert df.columns == ["municipio", "departamento", "region"]
    # paged partition planning: 1200/100 = 12 executor-side tasks
    assert df.rdd.getNumPartitions() == 12
    assert df.count() == 1200
    # deterministic content matches the in-process page generator
    assert df.filter(df.region == "Andina").count() == 240
    assert df.select("municipio").distinct().count() == 1200
    # and it composes with ordinary relational ops downstream
    per_dept = df.groupBy("departamento").count()
    assert per_dept.count() == 32


def test_parquetpages_auto_sizes_pages_to_row_groups(spark, tmp_path):
    """page_size="auto" (production posture) plans ONE page per row
    group from the footer — the page equals the I/O unit — while an
    explicit undersized page_size oversplits the same groups (the
    fan-out stress shape pysource_paged_docs pins). Both read the same
    rows."""
    import pyarrow.parquet as pq

    from data_warehouse_co_healthy_spark.sources.pysource import (
        ParquetPagesReader,
        register_parquet_pages,
    )

    src = f"{SF_DIR}/documents.parquet"
    n_groups = pq.ParquetFile(src).metadata.num_row_groups
    auto = ParquetPagesReader({"path": src})
    assert len(auto.partitions()) == n_groups
    split = ParquetPagesReader({"path": src, "page_size": "64"})
    assert len(split.partitions()) > n_groups

    register_parquet_pages(spark)
    df = (
        spark.read.format("parquetpages")
        .option("path", src)
        .option("page_size", "auto")
        .load()
    )
    native = spark.read.parquet(src)
    assert df.count() == native.count()
    assert df.rdd.getNumPartitions() == n_groups


def test_parquetpages_zone_map_pruning(spark, tmp_path):
    """Spark-4.1 filter pushdown on the Python DataSource: with
    .option("pushdown", "true") (+ the session conf), row groups whose
    footer min/max PROVE no match are never planned — 10-group file,
    doc_id < 150 plans exactly 2 partitions — while results stay equal
    to the native scan (pruning is advisory; Spark re-applies every
    predicate). The DEFAULT reader must not even carry pushFilters:
    Spark hard-fails readers that implement it when the conf is off,
    which is the vanilla driver session's state."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.sources.pysource import (
        ParquetPagesReader,
        register_parquet_pages,
    )

    src = str(tmp_path / "docs10g.parquet")
    n = 1000
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "val": pa.array([i % 7 for i in range(n)], pa.int64()),
            }
        ),
        src,
        row_group_size=100,
    )
    assert pq.ParquetFile(src).metadata.num_row_groups == 10
    # not OVERRIDDEN on the default reader (Spark's hard-fail check)
    from pyspark.sql.datasource import DataSourceReader

    assert (
        ParquetPagesReader.pushFilters is DataSourceReader.pushFilters
    )

    register_parquet_pages(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.getAll.get(key)  # None: unset, restore by unset
    try:
        # default reader keeps working with the pushdown conf OFF
        spark.conf.set(key, "false")
        plain = (
            spark.read.format("parquetpages").option("path", src).load()
        )
        assert plain.count() == n

        spark.conf.set(key, "true")
        df = (
            spark.read.format("parquetpages")
            .option("path", src)
            .option("pushdown", "true")
            .load()
        )
        filt = df.filter(F.col("doc_id") < 150)
        # groups [0,100) and [100,200) survive; eight are pruned
        assert filt.rdd.getNumPartitions() == 2
        native = (
            spark.read.parquet(src).filter(F.col("doc_id") < 150)
        )
        assert filt.count() == native.count() == 150
        assert (
            filt.agg(F.sum("val")).first()[0]
            == native.agg(F.sum("val")).first()[0]
        )
        # a filter no zone map can satisfy plans the zero-row guard
        none = df.filter(F.col("doc_id") > 10_000)
        assert none.count() == 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_python_datasource_streams_pages_incrementally(spark):
    """The Python DataSource's streaming side must drain the paged
    dataset exactly once across micro-batches (offset = page cursor)."""
    from data_warehouse_co_healthy_spark.sources import pysource

    pysource.register(spark)
    q = (
        spark.readStream.format("opendata")
        .option("limit", 350)
        .option("page_size", 100)
        .load()
        .writeStream.format("memory")
        .queryName("opendata_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM opendata_stream").toPandas()
    finally:
        q.stop()
    assert len(out) == 350
    assert out.municipio.is_unique
    # multiple micro-batches actually happened (one per page)
    assert int(q.lastProgress["batchId"]) >= 3


def test_dynamic_partition_overwrite_touches_only_written_days(spark, tmp_path):
    """Re-running one day's backfill must replace exactly that
    partition; all other partitions' bytes stay untouched."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.catalog import load_table
    from tests.conftest import SF_DIR

    path = str(tmp_path / "fact_daily")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    writers.write_parquet(ev, path, partition_by=("day",))
    days = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")
    )
    target, untouched = days[0], days[1]
    before_other = sorted(glob.glob(f"{path}/day={untouched}/*.parquet"))

    patched = ev.filter(F.col("day") == target).withColumn(
        "value", F.col("value") * 0 + 1.0
    )
    writers.overwrite_partitions_dynamic(patched, path)

    after_other = sorted(glob.glob(f"{path}/day={untouched}/*.parquet"))
    assert after_other == before_other  # same files, not rewritten
    got = spark.read.parquet(path)
    assert got.filter(F.col("day") == target).select(
        "value"
    ).distinct().collect() == [(1.0,)]
    assert got.count() == ev.count()


def test_vacuum_keeps_newest_versions_only(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "versioned")
    base = spark.range(5).select(F.col("id").alias("k"))
    for _ in range(4):
        writers.write_versioned(base, path)
    dropped = writers.vacuum_versions(path, keep_last=2)
    assert dropped == [1, 2]
    left = sorted(os.path.basename(p) for p in glob.glob(f"{path}/version=*"))
    assert left == ["version=3", "version=4"]
    assert writers.read_version(spark, path).count() == 5  # latest intact
    assert writers.read_version(spark, path, 3).count() == 5


def test_delete_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """Targeted erasure: deleting keys confined to two partitions must
    (a) remove exactly those rows, (b) drop a fully-wiped partition
    directory, and (c) leave every unaffected partition's files
    UNTOUCHED on disk (mtime-pinned) — the property that makes the op
    affordable on a 100 TB table."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "erasure")
    df = spark.createDataFrame(
        [(uid, f"u{uid}", uid % 4) for uid in range(40)],
        "user_id long, name string, p int",
    )
    df.write.partitionBy("p").parquet(path)
    # keys: all of partition p=3 (full wipe) + two rows of p=1
    keys = spark.createDataFrame(
        [(u,) for u in range(40) if u % 4 == 3] + [(1,), (5,)],
        "user_id long",
    )
    mtimes_before = {
        d: os.stat(os.path.join(path, d)).st_mtime_ns
        for d in os.listdir(path)
        if d.startswith("p=")
    }
    n = writers.delete_keys_partitioned(spark, path, keys, "user_id")
    assert n == 12  # 10 rows of p=3 + 2 rows of p=1
    back = spark.read.parquet(path)
    assert back.count() == 28
    assert back.filter(F.col("user_id").isin(1, 5)).count() == 0
    assert not os.path.isdir(os.path.join(path, "p=3"))
    # unaffected partitions byte-untouched
    for d in ("p=0", "p=2"):
        assert (
            os.stat(os.path.join(path, d)).st_mtime_ns
            == mtimes_before[d]
        ), d
    # deleting absent keys is a no-op
    ghost = spark.createDataFrame([(999,)], "user_id long")
    assert writers.delete_keys_partitioned(spark, path, ghost, "user_id") == 0


def test_delete_keys_handles_escaped_and_null_partitions(spark, tmp_path):
    """Erasure must drop fully-wiped partitions whose directory names
    are PERCENT-ESCAPED (value with ':') or the Hive default-partition
    dir (NULL value) — hand-built col=value paths miss both, leaving
    'erased' rows readable."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, None), (4, "plain"), (5, "plain")],
        "user_id long, p string",
    )
    df.write.partitionBy("p").parquet(path)
    # wipe the escaped partition and the null partition entirely
    keys = spark.createDataFrame([(1,), (2,), (3,)], "user_id long")
    n = writers.delete_keys_partitioned(spark, path, keys, "user_id")
    assert n == 3
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert set(r["user_id"] for r in back.collect()) == {4, 5}
    assert not os.path.isdir(os.path.join(path, "p=a%3Ab"))
    assert not os.path.isdir(
        os.path.join(path, "p=__HIVE_DEFAULT_PARTITION__")
    )


def test_vacuum_never_drops_last_committed_for_an_orphan(spark, tmp_path):
    """Retention counts COMMITTED snapshots: an uncommitted orphan from
    a dead writer must not occupy a keep_last slot — previously
    keep_last=1 would delete the only committed snapshot and retain the
    torn one, destroying the last readable state."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "vac")
    base = spark.range(6).select(F.col("id").alias("k"))
    v1 = writers.write_versioned_committed(base, path)
    writers.write_versioned(base.limit(1), path)  # torn write, no marker
    dropped = writers.vacuum_versions(path, keep_last=1, spark=spark)
    assert dropped == []  # v1 is the only committed snapshot: kept
    assert writers.read_committed(spark, path).count() == 6
    assert writers.committed_versions(spark, path) == [v1]
    # the orphan is reclaimed by the dedicated pass, not by retention
    assert writers.vacuum_uncommitted(path, spark=spark) == [2]


def test_committed_versions_ignores_foreign_marker_files(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "cv")
    base = spark.range(3).select(F.col("id").alias("k"))
    writers.write_versioned_committed(base, path)
    (tmp_path / "cv" / "_committed_vNOTANUMBER").write_text("")
    (tmp_path / "cv" / "_committed_v99").write_text("")  # no data dir
    assert writers.committed_versions(spark, path) == [1]


def test_atomic_commit_hides_torn_snapshots(spark, tmp_path):
    """Commit protocol: a snapshot is visible to committed readers ONLY
    after its marker lands — a writer dying between the data write and
    the marker leaves an orphan that read_committed never serves and
    vacuum_uncommitted reclaims."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "committed")
    base = spark.range(10).select(F.col("id").alias("k"))
    v1 = writers.write_versioned_committed(base, path)
    assert v1 == 1
    # simulate a crash: data dir written, marker never created
    v2 = writers.write_versioned(base.limit(3), path)
    assert v2 == 2
    assert writers.committed_versions(spark, path) == [1]
    assert writers.read_committed(spark, path).count() == 10  # not 3
    with pytest.raises(FileNotFoundError, match="not committed"):
        writers.read_committed(spark, path, 2)
    # the plain (non-committed) reader still sees the torn dir — the
    # two read APIs differ exactly on this point
    assert writers.read_version(spark, path).count() == 3
    assert writers.vacuum_uncommitted(path, spark=spark) == [2]
    assert writers.read_version(spark, path).count() == 10
    # a later committed write resumes normally and becomes latest
    v3 = writers.write_versioned_committed(base.limit(5), path)
    assert writers.committed_versions(spark, path) == [1, v3]
    assert writers.read_committed(spark, path).count() == 5
    # retention retires markers together with their snapshots
    v4 = writers.write_versioned_committed(base, path)
    dropped = writers.vacuum_versions(path, keep_last=1, spark=spark)
    assert v1 in dropped and v3 in dropped
    assert writers.committed_versions(spark, path) == [v4]


def test_snapshot_utilities_resolve_uri_schemes(spark, tmp_path):
    """The maintenance utilities run through the Hadoop FileSystem API:
    a scheme-qualified path (file://) must behave exactly like a bare
    local path — the same code path a cluster takes for hdfs:// or
    s3a:// (only the resolved FileSystem class differs)."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.sources import hadoopfs

    path = f"file://{tmp_path}/versioned_uri"
    base = spark.range(7).select(F.col("id").alias("k"))
    for _ in range(3):
        writers.write_versioned(base, path)
    assert hadoopfs.versions_in(spark, path) == [1, 2, 3]
    assert writers.vacuum_versions(path, keep_last=1, spark=spark) == [1, 2]
    assert writers.read_version(spark, path).count() == 7
    # compaction's rename/delete swap also goes through the FS API
    flat = f"file://{tmp_path}/compact_uri"
    spark.range(100).repartition(8).write.parquet(flat)
    n = writers.compact_parquet(spark, flat, 2)
    assert n == 2
    assert spark.read.parquet(flat).count() == 100
    # partition-layout discovery walks key=value dirs via listStatus
    part = f"file://{tmp_path}/part_uri"
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    ).write.partitionBy("p").parquet(part)
    assert writers._partition_cols_of(spark, part) == ["p"]


def test_binary_file_ingest_with_glob(spark, tmp_path):
    """binaryFile source: a directory of raw media files becomes
    (path, length, content BINARY) rows, glob-pruned before any bytes
    are read — the multimodal ingest on-ramp."""
    media = tmp_path / "media" / "day=1"
    media.mkdir(parents=True)
    (media / "a.img").write_bytes(b"\x89PNGfake-a")
    (media / "b.img").write_bytes(b"\x89PNGfake-bb")
    (media / "skip.txt").write_text("not media")
    df = readers.read_binary_files(
        spark, str(tmp_path / "media"), glob="*.img"
    )
    rows = {
        os.path.basename(r.path): (r.length, bytes(r.content))
        for r in df.collect()
    }
    assert rows == {
        "a.img": (10, b"\x89PNGfake-a"),
        "b.img": (11, b"\x89PNGfake-bb"),
    }


def test_vacuum_marker_layout_with_only_orphans_removes_nothing(
    spark, tmp_path
):
    """On a MARKER-USING layout whose snapshots are all uncommitted
    (first writer mid-write or dead pre-marker), retention must remove
    NOTHING — the bare-directory fallback applies only to layouts that
    never used atomic commits. Previously the fallback kicked in
    whenever zero snapshots were committed and would delete
    all-but-keep_last of the orphans, possibly including an
    in-progress write."""
    import shutil

    from pyspark.sql import functions as F

    path = str(tmp_path / "orphans")
    base = spark.range(4).select(F.col("id").alias("k"))
    v1 = writers.write_versioned_committed(base, path)
    writers.write_versioned(base, path)  # in-progress / torn writes
    writers.write_versioned(base, path)
    # simulate external cleanup that removed the committed data dir but
    # left its marker dangling: the layout provably uses markers, yet
    # committed_versions() is now empty
    shutil.rmtree(os.path.join(path, f"version={v1}"))
    assert writers.committed_versions(spark, path) == []
    assert writers.vacuum_versions(path, keep_last=1, spark=spark) == []
    # both orphan dirs survive retention (vacuum_uncommitted's job)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("version=")
    ) == ["version=2", "version=3"]


def test_delete_keys_formats_non_string_partition_values(spark, tmp_path):
    """Partition directory names must come from SPARK'S value
    rendering, not Python str(): a fully-wiped BOOLEAN partition lives
    in 'flag=true' (Python would build 'flag=True', miss the dir, and
    raise a false 'expected partition dir missing'), and a DATE
    partition in 'day=2024-01-02'."""
    from datetime import date

    from pyspark.sql import functions as F

    path = str(tmp_path / "boolpart")
    df = spark.createDataFrame(
        [
            (1, True, date(2024, 1, 1)),
            (2, True, date(2024, 1, 1)),
            (3, False, date(2024, 1, 2)),
            (4, False, date(2024, 1, 2)),
        ],
        "user_id long, flag boolean, day date",
    )
    df.write.partitionBy("flag", "day").parquet(path)
    assert os.path.isdir(os.path.join(path, "flag=true", "day=2024-01-01"))
    # wipe the flag=true/day=2024-01-01 partition entirely
    keys = spark.createDataFrame([(1,), (2,)], "user_id long")
    n = writers.delete_keys_partitioned(spark, path, keys, "user_id")
    assert n == 2
    assert not os.path.isdir(
        os.path.join(path, "flag=true", "day=2024-01-01")
    )
    back = spark.read.parquet(path)
    assert sorted(r["user_id"] for r in back.collect()) == [3, 4]
    # partition inference reads bool values back as string 'true'/'false'
    assert back.filter(F.col("flag").cast("string") == "true").count() == 0


_LOCAL_FRAME_CASES = [
    ([(1, "Bogotá D.C."), (2, None)], "region_id long, municipio string"),
    ([(7, 3, 0.25), (8, None, None)], "vec_id bigint, cid int, dist double"),
    (
        [(1, float("nan")), (2, None), (3, -0.0)],
        "doc_id long, rank double",
    ),
    (
        [(0, [0.5, float("nan"), None]), (1, []), (2, None)],
        "cell int, centroid array<double>",
    ),
    ([(4, [3, None, 0], 1.5)], "vec_id long, codes array<int>, recon_mse double"),
    ([(5, 2, True, None)], "vec_id bigint, cid int, kept boolean, max_cos_kept double"),
    ([], "query_id bigint, cand_id bigint, rk bigint, cos double"),
]


@pytest.mark.parametrize(
    "rows,ddl", _LOCAL_FRAME_CASES, ids=[d for _, d in _LOCAL_FRAME_CASES]
)
def test_local_frame_matches_row_path_and_plans_local(spark, rows, ddl):
    """``local_frame`` gives the schema and rows of
    ``createDataFrame(list, ddl)`` (NaN stays NaN, None stays null)
    and plans as a ``LocalTableScan``, not a Python-RDD scan."""
    from data_warehouse_co_healthy_spark.catalog import local_frame

    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    # repr: NaN != NaN, so compare the printed rows
    assert repr(got.collect()) == repr(want.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


@pytest.mark.parametrize(
    "ddl", ["ts timestamp", "m map<string,int>", "s struct<a:int>"]
)
def test_local_frame_rejects_unmapped_types(spark, ddl):
    """Types whose values Arrow would convert differently from the
    row path (a naive datetime: UTC against local time) or that it
    does not handle are refused, never routed another way."""
    from data_warehouse_co_healthy_spark.catalog import local_frame

    with pytest.raises(TypeError, match="local_frame"):
        local_frame(spark, [], ddl)


def test_local_frame_rejects_ragged_rows(spark):
    from data_warehouse_co_healthy_spark.catalog import local_frame

    with pytest.raises(ValueError, match="schema has 2"):
        local_frame(spark, [(1, "a"), (2,)], "a long, b string")
