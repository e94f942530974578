"""End-to-end LLM training-corpus pipeline demo: the composed dataflow
a pretraining data team runs per crawl snapshot, built entirely from
the registry's operators.

  raw documents
    → quality + langid gate          (clean_corpus)
    → exact dedup                    (keep canonical copy per content fp)
    → near-dup removal               (minhash LSH clusters, keep min doc)
    → benchmark decontamination      (contamination_overlap < threshold)
    → DSIR target-likeness selection (dsir_importance > 0)
    → weighted source mixing         (mix_sources_weighted)
    → sequence packing               (pack_sequences bins)
    → partitioned parquet + stats

Every stage is a DataFrame → DataFrame composition (no driver loops);
the funnel counts print per stage so drop-off is auditable.

Usage: python tools/run_corpus_demo.py [sf_dir] [output_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from data_warehouse_co_healthy_spark.catalog import load_table  # noqa: E402
from data_warehouse_co_healthy_spark.llm import (  # noqa: E402
    dedup,
    filters,
    text,
    training,
)
from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402
from data_warehouse_co_healthy_spark.sources.writers import (  # noqa: E402
    write_parquet,
)

CONTAMINATION_MAX = 0.5
DSIR_MIN_PER_TOK = -0.024  # per-token log-ratio cutoff (see stage 5)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_demo"
    spark = get_spark("corpus-demo")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    funnel = [("raw", docs.count())]

    # 1. quality + language gate (clean_corpus already composes the
    #    canonicalization, quality thresholds and langid heuristic)
    clean_ids = text.clean_corpus(spark, sf_dir).select("doc_id")
    stage = docs.join(clean_ids, on="doc_id", how="left_semi")
    funnel.append(("quality+langid", stage.count()))

    # 2. exact dedup: keep the canonical (min doc_id) copy per content fp
    canon = dedup.dedup_exact(spark, sf_dir).select(
        F.col("canonical_id").alias("doc_id")
    )
    stage = stage.join(canon, on="doc_id", how="left_semi")
    funnel.append(("exact-dedup", stage.count()))

    # 3. near-dup removal: minhash-LSH clusters, keep the min-label doc
    clusters = dedup.dedup_cluster_labels(spark, sf_dir)
    keep_near = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    stage = stage.join(keep_near, on="doc_id", how="left_semi")
    funnel.append(("near-dedup", stage.count()))

    # 4. benchmark decontamination (drop heavily eval-overlapping docs;
    #    eval-set docs themselves are excluded from training outright)
    contam = filters.contamination_overlap(spark, sf_dir)
    ok = contam.filter(F.col("contamination") <= CONTAMINATION_MAX).select(
        "doc_id"
    )
    stage = stage.join(ok, on="doc_id", how="left_semi")
    funnel.append(("decontaminated", stage.count()))

    # 5. DSIR-style target-likeness selection: keep documents whose
    #    PER-TOKEN hashed-unigram log-likelihood ratio is above the
    #    cutoff. The synthetic corpus shares one vocabulary across
    #    langs, so separation is mild (threshold sits near the raw
    #    mean); on a real crawl the target/raw gap is sharp and the
    #    natural cutoff is 0.
    liked = training.dsir_importance(spark, sf_dir).filter(
        F.col("dsir_logratio") / F.col("n_toks") > DSIR_MIN_PER_TOK
    ).select("doc_id")
    stage = stage.join(liked, on="doc_id", how="left_semi")
    funnel.append(("dsir-selected", stage.count()))

    # 6. weighted source mixing
    mixed = filters.mix_sources_weighted(spark, sf_dir).select("doc_id")
    stage = stage.join(mixed, on="doc_id", how="left_semi")
    funnel.append(("mixed", stage.count()))

    # 7. sequence packing over the survivors (bin ids per source)
    packed = text.pack_sequences(spark, sf_dir).join(
        stage.select("doc_id"), on="doc_id", how="left_semi"
    )

    write_parquet(
        docs.join(stage.select("doc_id"), on="doc_id", how="left_semi"),
        os.path.join(out_dir, "corpus"),
        partition_by=("source",),
    )
    write_parquet(packed, os.path.join(out_dir, "packed"))

    for name, n in funnel:
        print(f"  {name:>16}: {n}")

    # corpus-balance telemetry: raw mixture entropy (sum of per-source
    # -p ln p terms) — the number to watch across snapshots
    ent = filters.corpus_mix_entropy(spark, sf_dir).agg(
        F.round(F.sum("entropy_term"), 4).alias("H")
    ).first()["H"]
    print(f"  raw source-mix entropy: {ent}")

    # corpus-health screens added round 5: rank-frequency shape,
    # closest source pair (redundancy), worst length-distribution
    # drift, and the language-ID confusion diagonal
    zipf = text.zipf_rank_slope(spark, sf_dir).first()
    print(
        f"  zipf: slope {zipf['zipf_slope']} (r2 {zipf['r2']}) over "
        f"{zipf['vocab_size']} types — flatter than -1 flags "
        "synthetic/templated text"
    )
    jsd = (
        text.js_divergence_sources(spark, sf_dir)
        .orderBy("jsd")
        .first()
    )
    print(
        f"  most-similar sources: {jsd['s1']} ~ {jsd['s2']} "
        f"(JSD {jsd['jsd']} bits)"
    )
    ks = (
        text.ks_two_sample(spark, sf_dir)
        .orderBy(F.col("ks").desc())
        .first()
    )
    print(
        f"  worst en/non-en length drift: {ks['source']} "
        f"(KS {ks['ks']})"
    )
    # per-class recall from the FULL matrix: a class with no diagonal
    # row has recall 0 and must drag the macro average down, not
    # silently drop out of it
    diag = (
        text.langid_confusion(spark, sf_dir)
        .groupBy("true_lang")
        .agg(
            F.sum(
                F.when(
                    F.col("pred_lang") == F.col("true_lang"),
                    F.col("share_of_true"),
                ).otherwise(0.0)
            ).alias("recall")
        )
        .agg(F.round(F.avg("recall"), 4).alias("r"))
        .first()["r"]
    )
    print(f"  langid macro recall: {diag}")
    stats = (
        packed.groupBy("source")
        .agg(
            F.countDistinct("pack_id").alias("n_bins"),
            F.sum("n_tok").alias("tokens"),
        )
        .orderBy("source")
    )
    stats.show(5, truncate=False)
    print(f"corpus at {out_dir}")


if __name__ == "__main__":
    main()
