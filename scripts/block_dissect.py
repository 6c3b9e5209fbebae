#!/usr/bin/env python
"""Dissect the post-partials block stages (termlist / docstats / dict /
postings) serially on an existing partials/ dir, separating the partials
scan from each stage's compute and from its sink (noop vs real write).
A finished build removes partials/, so point it at a build stopped after
its partials stage.

Usage: python scripts/block_dissect.py <index_dir> [cores]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    idx = sys.argv[1]
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    if not os.path.isdir(os.path.join(idx, "partials")):
        sys.exit(f"{idx} has no partials/ (a finished build removes it)")
    from pyspark.sql import functions as F
    from mdq_spark.build import (
        TERMS_SCHEMA, _docstats_kernel, _termlist_kernel, merge_partials,
        _POSTINGS_COLS,
    )
    from mdq_spark.session import get_spark

    spark = get_spark("block-dissect", cores=cores)
    (spark.range(cores * 4, numPartitions=cores)
     .mapInPandas(lambda it: it, "id long").count())

    part = spark.read.parquet(os.path.join(idx, "partials"))
    part0 = part.filter(F.col("gen") == 0)
    tmp = os.path.join(idx, "_dissect_tmp")

    def t(label, fn):
        t0 = time.time()
        fn()
        print(f"{label:46s} {time.time() - t0:7.2f} s", flush=True)

    # raw scan costs
    t("scan: full partials count", lambda: part0.count())
    t("scan: narrow cols (doc_gaps,doclens,n) noop",
      lambda: noop(part0.select("doc_gaps", "doclens", "n")))
    t("scan: dict cols (term,bucket,n,sum_wdf,bmw) noop",
      lambda: noop(part0.select("term", "bucket", "n", "sum_wdf",
                                "block_max_wdf")))
    t("scan: postings cols noop",
      lambda: noop(part0.select(*_POSTINGS_COLS)))

    # termlist
    tl = (part0.select("term", "bucket", "n", "doc_gaps", "wdfs")
          .mapInArrow(_termlist_kernel(), schema=TERMS_SCHEMA)
          .withColumn("gen", F.lit(0)))
    t("termlist: kernel noop", lambda: noop(tl))
    t("termlist: kernel + write",
      lambda: tl.write.mode("overwrite").parquet(tmp + "_terms"))

    # docstats
    ds = (part0.select("doc_gaps", "doclens", "n")
          .mapInArrow(_docstats_kernel(), "doc_id bigint, doclen int")
          .groupBy("doc_id").agg(F.max("doclen").alias("doclen"))
          .withColumn("gen", F.lit(0)))
    t("docstats: kernel+agg noop", lambda: noop(ds))
    t("docstats: kernel+agg + write",
      lambda: ds.write.mode("overwrite").parquet(tmp + "_docstats"))

    # dict
    dc = (part0.groupBy("term", "bucket")
          .agg(F.sum("n").cast("long").alias("df"),
               F.sum("sum_wdf").cast("long").alias("cf"),
               F.max("block_max_wdf").alias("wdf_max"))
          .withColumn("gen", F.lit(0))
          .withColumn("tpfx", F.substring("term", 1, 1)))
    t("dict: agg noop", lambda: noop(dc))
    dcr = dc.repartition("tpfx", "bucket").sortWithinPartitions("term")
    t("dict: agg+repart+sort noop", lambda: noop(dcr))
    t("dict: agg+repart+sort + partitioned write",
      lambda: dcr.write.mode("overwrite").partitionBy("tpfx")
      .parquet(tmp + "_dict"))

    # postings
    mp = merge_partials(part0.select(*_POSTINGS_COLS), None) \
        .withColumn("gen", F.lit(0))
    t("postings: merge noop", lambda: noop(mp))
    t("postings: merge + partitioned write",
      lambda: mp.write.mode("overwrite").partitionBy("bucket")
      .parquet(tmp + "_post"))

    for sfx in ("_terms", "_docstats", "_dict", "_post"):
        shutil.rmtree(tmp + sfx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
