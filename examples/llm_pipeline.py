#!/usr/bin/env python
"""End-to-end LLM training-data pipeline over the documents/embeddings
tables: PII scrub → quality gate → exact dedup → near-dup clustering
(MinHash LSH → exact Jaccard verify → connected components, keep-first)
→ source de-domination → text feature columns → sequence packing → BPE
tokenizer training → temperature source mixing, plus the audit tier
(MinHash calibration, cross-source overlap, distributed ANN recall) and
an ANN neighbor lookup.
Run: python examples/llm_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyconnect_spark.catalog import load_table
from pyconnect_spark.operators.dedup import connected_components, lsh_verified_edges
from pyconnect_spark.operators.dedup import dd10, dd11
from pyconnect_spark.operators.extended import x38
from pyconnect_spark.operators.dedup import dd13, dd23, dd27, dd28
from pyconnect_spark.operators.similarity import sm01, sm09
from pyconnect_spark.operators.multimodal import mm05
from pyconnect_spark.operators.text import (
    redact_frame, tx01, tx04, tx12, tx13, tx22, tx23, tx24, tx32, tx37,
)
from pyconnect_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("example-llm-pipeline", cores=8)

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 0. PII / deny-list scrub (map-only; same pack runs on a stream, S20)
    scrubbed = redact_frame(docs)
    n_dirty = scrubbed.filter(~F.col("clean")).count()
    print(f"scrub: {n_dirty}/{n0} docs needed redaction")

    # 1. quality gate (pure column expressions — scan-speed filtering)
    kept_ids = tx04(spark, sf_dir).filter(F.col("keep") == 1).select("doc_id")
    docs = docs.join(kept_ids, "doc_id")
    n1 = docs.count()

    # 2. exact dedup on content fingerprint
    docs = docs.dropDuplicates(["text"])
    n2 = docs.count()

    # 3. near-dup: LSH candidates verified by exact word-3-gram Jaccard
    #    (>= 0.8, dd05's edges) -> components -> keep-first. Raw candidates
    #    are not edges: 8x8 banding admits ~13% of J=0.6 pairs.
    edges = lsh_verified_edges(docs, 0.8)
    comp = connected_components(docs.select(F.col("doc_id").alias("node")), edges)
    keep = comp.filter(F.col("node") == F.col("root")).select(F.col("node").alias("doc_id"))
    docs = docs.join(keep, "doc_id")
    n3 = docs.count()

    # 4. feature columns for the survivors (+ char entropy quality signal)
    feats = (
        tx01(spark, sf_dir)
        .join(tx13(spark, sf_dir).select("doc_id", "char_entropy"), "doc_id")
        .join(docs.select("doc_id"), "doc_id")
    )
    print(feats.orderBy("doc_id").limit(5).toPandas().to_string(index=False))
    print(f"pipeline: {n0} docs -> quality {n1} -> exact-dedup {n2} -> near-dedup {n3}")

    # 4b. source de-domination: cap any one source's share of the mix
    mix = x38(spark, sf_dir)
    print("post-cap source mix (top 3 by share):")
    print(mix.orderBy(F.desc("achieved_share"), "source").limit(3)
          .toPandas().to_string(index=False))

    # 5. audit tier: was the sketch trustworthy? (estimate vs exact Jaccard)
    #    plus: do any two sources systematically mirror each other?
    overlap = dd11(spark, sf_dir)
    print("top cross-source overlaps:")
    print(overlap.orderBy(F.desc("jaccard"), "source_a", "source_b").limit(3)
          .toPandas().to_string(index=False))
    cal = dd10(spark, sf_dir)
    print("minhash calibration (worst 3 by abs error):")
    print(cal.orderBy(F.desc("abs_err"), "doc_a", "doc_b").limit(3)
          .toPandas().to_string(index=False))

    # 6. pack survivors into ~2048-token training sequences
    packed = tx12(spark, sf_dir)
    print("packing summary (first 3 sequences):")
    print(packed.limit(3).toPandas().to_string(index=False))

    # 7. ANN: top-5 cosine neighbors of vec_id=1, and the distributed
    #    recall audit of the IVF index
    print(sm01(spark, sf_dir).toPandas().to_string(index=False))
    print("IVF recall@5 per query (computed in-engine):")
    print(sm09(spark, sf_dir).orderBy("q_id").toPandas().to_string(index=False))

    # 8. write-side refinements: strip corpus-frequent boilerplate chunks,
    #    attach soft-dedup sampling weights (down-weight instead of drop),
    #    and audit the text<->embedding pairing before the paired shards ship
    bp = tx22(spark, sf_dir)
    print("boilerplate removal (most-affected 3 docs):")
    print(bp.withColumn("removed", F.col("n_chunks") - F.col("n_kept"))
          .orderBy(F.desc("removed"), "doc_id").limit(3)
          .select("doc_id", "n_chunks", "n_kept")
          .toPandas().to_string(index=False))
    wts = dd13(spark, sf_dir)
    print("soft-dedup weights (lowest 3 = most duplicated):")
    print(wts.orderBy("weight", "doc_id").limit(3).toPandas().to_string(index=False))
    print("modality pairing audit:")
    print(mm05(spark, sf_dir).toPandas().to_string(index=False))

    # 9. tokenizer planning: vocab-coverage curve + TextRank keywords,
    #    then TRAIN the tokenizer: tx32's BPE merge loop (one corpus
    #    pass ever — 8 iterations over the vocab-bounded word-shape table)
    print("vocab coverage at top-k cutoffs:")
    print(tx23(spark, sf_dir).orderBy("k").toPandas().to_string(index=False))
    print("TextRank top-5 corpus keywords:")
    print(tx24(spark, sf_dir).orderBy(F.desc("pagerank"), "word").limit(5)
          .toPandas().to_string(index=False))
    print("BPE merge table (8 trained merges):")
    print(tx32(spark, sf_dir).orderBy("step").toPandas().to_string(index=False))

    # 9b. mixture: temperature-rebalance the source shares (tau=0.7) so
    #     rare sources up-sample; composes with dd13's soft-dedup weights
    #     by multiplying into each doc's coin threshold
    print("temperature mixture (top 3 up-sampled sources):")
    print(dd23(spark, sf_dir).orderBy(F.desc("sampling_rate"), "source")
          .limit(3).toPandas().to_string(index=False))

    # 9b. next-cycle posture: the SAME pipeline run incrementally — a
    #     new batch dedups against the shipped corpus's fingerprint
    #     ledger (exact) and its MinHash band index (near-dup); the
    #     mixing recipe re-derives from quality-weighted budgets
    print("incremental cycle (batch vs index, exact + near-dup):")
    inc = dd27(spark, sf_dir).join(
        dd28(spark, sf_dir).select("source", "n_neardup"), "source"
    )
    print(inc.orderBy("source").limit(3).toPandas().to_string(index=False))
    print("token budget (top 3 sources by epochs):")
    print(tx37(spark, sf_dir).orderBy(F.desc("epochs"), "source")
          .limit(3).toPandas().to_string(index=False))

    # 9c. round-6 curation additions, composed on the same survivors:
    #     - semantic decontamination: flag train vectors too close to
    #       the frozen eval split (dd30; the S32 gate runs the n-gram
    #       twin of this at ingest)
    #     - diverse exemplars: farthest-first coreset with its k-center
    #       coverage radii (sm31)
    #     - uncertainty: Poisson-bootstrap CI on the order-value metric
    #       the curated corpus is supposed to move (x75)
    from pyconnect_spark.operators.dedup import dd30
    from pyconnect_spark.operators.extended import x75
    from pyconnect_spark.operators.similarity import sm31

    print("semantic decontamination (labels with flagged train vectors):")
    print(dd30(spark, sf_dir).filter(F.col("n_flagged") > 0)
          .toPandas().to_string(index=False))
    print("farthest-first coreset (selection order + coverage radius):")
    print(sm31(spark, sf_dir).toPandas().to_string(index=False))
    print("Poisson-bootstrap CI for mean order value:")
    print(x75(spark, sf_dir).toPandas().to_string(index=False))

    # 10. ship the curated corpus: Z-order the (lang, quality-signal)
    #     layout for multi-column file skipping, then upsert a late
    #     correction batch touching one partition only
    import tempfile

    from pyconnect_spark.sources.layout import merge_upsert, write_zordered

    out = tempfile.mkdtemp(prefix="curated-")
    curated = docs.join(wts.select("doc_id", "weight"), "doc_id").join(
        tx13(spark, sf_dir).select("doc_id", "char_entropy"), "doc_id"
    )
    write_zordered(
        curated.select("doc_id", "lang", "source", "text", "weight", "char_entropy"),
        f"{out}/corpus",
        zorder_by=["doc_id", "char_entropy"],
        n_files=4,
    )
    n_shipped = spark.read.parquet(f"{out}/corpus").count()
    print(f"shipped {n_shipped} curated docs (z-ordered on doc_id x entropy)")
    spark.stop()


if __name__ == "__main__":
    main()
