"""Rebuild the scaling-sweep replica corpora (the PLANS methodology,
checked in so every round's numbers are reproducible from the repo).

Usage:
    python tools/build_replicas.py [--src /root/testdata/sf0.1] \
        [--factors 10,50] [--out-template /tmp/scale{n}all]

Produces the "realistic fact-grows" shape used by every scaling table
in PLANS.md:

* ``documents`` x n with REPLICA-SALTED tokens: replica i>0 prefixes
  every word with ``r{i}`` so replicas share no tokens and per-doc
  near-dup density stays constant instead of multiplying (a plain copy
  would make every doc a 50-way duplicate and turn dedup measurements
  into output-size measurements).  doc_ids shift by ``i * |docs|``;
  the shift preserves ``doc_id % 20`` delta membership and
  ``doc_id % 50`` bench membership (|docs| divides both -- ASSERTED
  at build time, not assumed), so the incremental-dedup split keeps
  its 5% delta fraction and decontam its 2% bench fraction.
* ``events`` x n with user_id/event_id shifted per replica (cohorts
  and sessions grow in count, not in per-user depth -- the shape a
  growing product exhibits).
* ``orders`` + ``lineitem`` x n with o_orderkey/l_orderkey shifted in
  lockstep (join keys stay consistent; per-order line counts fixed).
* ``embeddings`` x n with vec_id shifted by ``i * |vecs|`` (preserving
  the ``vec_id % 20`` delta split -- asserted, like documents) and
  LABEL shifted by ``i * |labels|``: an embedding corpus grows with
  the documents it embeds, so pinning it at 1x made every embedding
  sweep measure JVM warmth, not scale (VERDICT r12 #6).  The label
  shift is what keeps the replication honest for the label-blocked
  operators (q_dedup_embed, q_sim_knn_per_label): replica
  copies are bit-identical vectors, but they can never meet a copy of
  themselves inside a label block, so near-dup density per block stays
  exactly the source corpus's instead of every vector becoming an
  n-way exact duplicate.  Block COUNT grows n-fold at constant block
  size -- the shuffle/scan axis of the scale argument.  Caveat for the
  un-blocked full-scan keys (q_sim_cosine, q_sim_ivf): their COST
  shape (queries x corpus scan / probed cells) scales honestly, but
  top-k CONTENTS include cross-replica exact copies of the same
  vector -- fine for timing, meaningless for quality.
* remaining dimension tables (region nation customer supplier part)
  SYMLINKED at 1x -- dims don't grow with fact volume, and keeping
  them fixed is what makes broadcast-join behavior at scale honest.

After building, run ``artifacts.build_corpus_artifacts(spark, dir)``
for each replica dir before timing artifact-backed queries -- the
round-9 sweep measured 283 s (cold, inline index rebuild per run) vs
3.4 s (warm probe) on q_dedup_incremental at 50x.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def build(spark, src: str, n: int, out: str, files_per_table: int = 0) -> None:
    """``files_per_table=0`` (default) keeps the writer's natural file
    count -- the layout every recorded PLANS sweep used, so numbers
    stay comparable.  A positive value repartitions each fact table to
    that many files before writing: the crossJoin replication otherwise
    concentrates a 50x table into a handful of files, and (row groups
    permitting) the parquet scan then offers fewer splits than a real
    50x corpus would -- set e.g. ``2*n`` when the study is scan
    parallelism itself rather than relative operator cost."""
    from pyspark.sql import functions as F

    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in DIM_TABLES:
        os.symlink(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    reps = spark.range(n).withColumnRenamed("id", "rep")

    def write(df, name):
        if files_per_table > 0:
            df = df.repartition(files_per_table)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.count()
    # The doc_id shift preserves doc_id % 20 (incremental-dedup delta
    # split) and % 50 (decontam bench split) membership only when
    # n_docs divides both; fail loudly on a nonconforming source corpus
    # instead of silently skewing the fractions the scaling sweeps
    # depend on (ADVICE r9).
    assert n_docs % 20 == 0 and n_docs % 50 == 0, (
        f"source corpus has {n_docs} documents, not a multiple of both "
        f"20 and 50 -- the replica doc_id shift would change the "
        f"delta/bench split fractions and skew every scaling number")
    write(docs.crossJoin(F.broadcast(reps))
          .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_docs)
          .withColumn("text", F.when(F.col("rep") == 0, F.col("text"))
                      .otherwise(F.expr(
                          r"regexp_replace(text, '(\\w+)',"
                          r" 'r' || cast(rep as string) || '$1')")))
          .drop("rep"), "documents")

    ev = spark.read.parquet(f"{src}/events.parquet")
    max_user, max_event = (x + 1 for x in
                           ev.agg(F.max("user_id"), F.max("event_id")).first())
    write(ev.crossJoin(F.broadcast(reps))
          .withColumn("user_id", F.col("user_id") + F.col("rep") * max_user)
          .withColumn("event_id", F.col("event_id") + F.col("rep") * max_event)
          .drop("rep"), "events")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_vecs = emb.count()
    # same loud guard as documents: the vec_id shift must preserve the
    # % 20 delta membership or the incremental embed split skews
    assert n_vecs % 20 == 0, (
        f"source corpus has {n_vecs} embeddings, not a multiple of 20 "
        f"-- the replica vec_id shift would change the delta split")
    n_labels = emb.agg(F.max("label")).first()[0] + 1
    write(emb.crossJoin(F.broadcast(reps))
          .withColumn("vec_id", F.col("vec_id") + F.col("rep") * n_vecs)
          .withColumn("label",
                      (F.col("label") + F.col("rep") * n_labels)
                      .cast("int"))
          .drop("rep"), "embeddings")

    orders = spark.read.parquet(f"{src}/orders.parquet")
    max_order = orders.agg(F.max("o_orderkey")).first()[0] + 1
    write(orders.crossJoin(F.broadcast(reps))
          .withColumn("o_orderkey",
                      F.col("o_orderkey") + F.col("rep") * max_order)
          .drop("rep"), "orders")
    write(spark.read.parquet(f"{src}/lineitem.parquet")
          .crossJoin(F.broadcast(reps))
          .withColumn("l_orderkey",
                      F.col("l_orderkey") + F.col("rep") * max_order)
          .drop("rep"), "lineitem")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--factors", default="10,50")
    ap.add_argument("--out-template", default="/tmp/scale{n}all")
    ap.add_argument("--files-per-table", type=int, default=0,
                    help="repartition fact tables to N files (0 = natural)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    for n in (int(x) for x in args.factors.split(",")):
        out = args.out_template.format(n=n)
        t = time.time()
        build(spark, args.src, n, out, args.files_per_table)
        print(f"{out}: x{n} built in {time.time() - t:.1f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
