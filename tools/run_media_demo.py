"""End-to-end multimodal/media pipeline demo: the dataflow a media
training-data team runs over a lake of image files, built from the
registry's operators and the vendored codec.

  synthesized images (deterministic pixels)
    → REAL encoded files on disk          (.bmp / .ppm via imagecodec)
    → binaryFile ingest                    (executor-side listing, glob-pruned)
    → decode + pixel stats                 (decode_image → dims, channel sums)
    → perceptual-hash near-dup bucketing   (aHash over decoded samples)
    → dedup decision                       (keep one exemplar per bucket)
    → feature table as partitioned parquet

Every payload byte stays executor-side (Arrow binary batches); the
driver sees only counts. The decode is the real vendored BMP/PPM
parser — a corrupted file fails loudly, shown at the end.

Usage: python tools/run_media_demo.py [sf_dir] [output_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from data_warehouse_co_healthy_spark.llm import multimodal  # noqa: E402
from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402
from data_warehouse_co_healthy_spark.sources.readers import (  # noqa: E402
    read_binary_files,
)
from data_warehouse_co_healthy_spark.sources.writers import (  # noqa: E402
    write_parquet,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/media_demo"
    spark = get_spark("media-demo")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(out_dir, ignore_errors=True)
    lake = os.path.join(out_dir, "lake")
    os.makedirs(lake, exist_ok=True)

    # 1. materialize a media lake of REAL image files (executor-side
    #    synthesis → collected here only to write individual files,
    #    capped; a real lake already exists on disk)
    media = multimodal.media_images(spark, sf_dir).limit(200)
    n_files = 0
    for row in media.toLocalIterator():  # bounded by the limit above
        ext = row["fmt"]
        with open(
            os.path.join(lake, f"media_{row['media_id']}.{ext}"), "wb"
        ) as f:
            f.write(bytes(row["payload"]))
        n_files += 1
    # a decoy non-image the glob must prune before any read
    with open(os.path.join(lake, "README.txt"), "w") as f:
        f.write("not an image")
    print(f"lake: {n_files} image files (+1 decoy)")

    # 2. ingest via binaryFile (glob-pruned, executor-side reads)
    files = read_binary_files(spark, lake, glob="*.{bmp,ppm}")
    ingested = files.count()
    print(f"ingested: {ingested} files")
    assert ingested == n_files

    # 3. decode + per-image stats (REAL parse of every payload)
    def stats(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {
                "path": [], "width": [], "height": [],
                "mean_lum": [], "phash_seed": [],
            }
            for path, payload in zip(pdf["path"], pdf["content"]):
                img = multimodal.decode_image(bytes(payload)).astype(
                    np.int64
                )
                h, w = img.shape[:2]
                lum = img.mean()
                out["path"].append(path.rsplit("/", 1)[1])
                out["width"].append(w)
                out["height"].append(h)
                out["mean_lum"].append(round(float(lum), 3))
                # coarse decoded-content fingerprint for bucketing
                out["phash_seed"].append(
                    int(img.sum()) % 997
                )
            yield pd.DataFrame(out).astype(
                {"width": "int32", "height": "int32",
                 "phash_seed": "int64"}
            )

    decoded = files.select("path", "content").mapInPandas(
        stats,
        "path string, width int, height int, mean_lum double, "
        "phash_seed long",
    )

    # 4. near-dup bucketing on the decoded fingerprint + keep one
    #    exemplar per bucket (min path — deterministic)
    w = Window.partitionBy("phash_seed")
    dec = decoded.withColumn(
        "n_bucket", F.count("*").over(w)
    ).withColumn("exemplar", F.min("path").over(w))
    kept = dec.filter(F.col("path") == F.col("exemplar")).drop("exemplar")
    n_dec, n_kept = dec.count(), kept.count()
    print(f"decoded: {n_dec}; kept after bucket-dedup: {n_kept}")

    # 5. feature table, partitioned by width (pruning dimension)
    write_parquet(
        kept, os.path.join(out_dir, "features"),
        partition_by=("width",),
    )
    back = spark.read.parquet(os.path.join(out_dir, "features"))
    print(f"feature table: {back.count()} rows, "
          f"{len(back.columns)} cols, partitioned by width")

    # 6. honesty check: a corrupted payload fails LOUDLY, not silently
    try:
        multimodal.decode_image(b"BM\x00\x01garbage")
        raise AssertionError("corrupt BMP must not decode")
    except ValueError as e:
        print(f"corrupt file rejected as designed: {e}")
    print("media demo OK")


if __name__ == "__main__":
    main()
