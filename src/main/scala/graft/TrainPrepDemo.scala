package graft

import graft.operators.{Pins, RegexScrub, SeqPack}
import graft.queries.TrainPrep
import org.apache.spark.sql.functions._

/** Executable corpus-preparation pipeline: the full pass a pre-training
  * corpus takes from raw documents to packed context windows, composed
  * from the library operators —
  *
  *   0. text normalization (NFC + control strip + whitespace collapse)
  *   1. exact dedup (content-hash groupBy, keep min id)
  *   1b. near-dup CLUSTER dedup (MinHash LSH pairs -> connected
  *       components -> keep each component's min id)
  *   2. benchmark decontamination (shingle overlap vs a held-out slice)
  *   3. repetition quality filter (most-frequent-bigram fraction)
  *   4. PII/canary scrub (one-pass regex redaction)
  *   5. weighted corpus mixing (deterministic md5 keep fraction)
  *   6. sequence packing (concat-and-cut to a token budget)
  *   7. tokenizer bootstrap (first BPE merges over the final corpus)
  *   8. publish: per-column stats report + split-leakage audit
  *
  * Each stage is a DataFrame -> DataFrame pass with the scale shape
  * documented on its operator; the composition here is what a 100 TB
  * corpus job would submit, modulo table paths and weights.
  *
  * Usage: runMain graft.TrainPrepDemo [sfDir]
  */
object TrainPrepDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.getOrCreate("graft-train-prep-demo")
    val raw = Tables(spark, sfDir).documents
    val n0 = raw.count()

    // 0. normalize first: canonically-equal texts must collide in every
    // hash below (exact dedup, shingles, scrub input)
    val docs = raw.withColumn("text",
      graft.functions.TextFunctions.normalizeText(col("text")))

    // 1. exact dedup: canonical doc per content hash
    val keep = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val exactDeduped = docs.join(keep.select("doc_id"), "doc_id")
    val n1 = exactDeduped.count()

    // 1b. near-dup clusters: LSH candidate pairs -> connected
    // components -> one survivor per component
    val comp = graft.operators.ConnectedComponents
      .components(graft.queries.DedupOps.candidatePairs(exactDeduped),
        "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val deduped = exactDeduped.join(comp, Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp")
    val n1b = deduped.count()

    // 2. decontaminate vs the benchmark slice (broadcast shingle set);
    // pinned — every later stage count re-reads this lineage
    val clean = deduped
      .filter(col("doc_id") >= TrainPrep.DECON_BENCH_DOCS)
      .join(TrainPrep.contaminationHits(deduped).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .transform(Pins.pin)
    val n2 = clean.count()

    // 3. repetition quality gate (drop boilerplate-heavy docs)
    val quality = clean
      .withColumn("_rs", graft.plans.RepetitionStats(col("text")))
      .withColumn("_rep",
        when(col("_rs.n_bigrams") > 0,
          col("_rs.max_rep").cast("double") / col("_rs.n_bigrams"))
          .otherwise(0.0))
      .filter(col("_rep") < 0.2)
      .drop("_rs", "_rep")
    val n3 = quality.count()

    // 4. scrub PII/canary spans in one codegen pass
    val scrubbed = RegexScrub
      .scrub(quality, col("text"), TrainPrep.SCRUB_RULES)
      .withColumn("text", col("redacted"))
    val sumCols = TrainPrep.SCRUB_RULES.map(r => sum(col(r.name)).as(r.name))
    val redactions = scrubbed.agg(sumCols.head, sumCols.tail: _*).collect().head

    // 5. deterministic per-source mixing
    val mixed = Pins.pin(TrainPrep.mixKeep(scrubbed))
    val n5 = mixed.count()

    // 6. pack into context windows (per-shard prefix sums)
    val packed = SeqPack.assignPacks(
      mixed.select(col("doc_id"), col("text"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tok")),
      pmod(col("doc_id"), lit(TrainPrep.PACK_SHARDS)),
      Seq("doc_id"), col("n_tok"), TrainPrep.PACK_CTX)
    val nPacks = packed.select("_shard", "pack_id").distinct().count()

    // 7. tokenizer bootstrap: learn the first merges on the corpus
    // that will actually be trained on
    val (merges, _) = graft.operators.BpeTrainer.train(
      graft.operators.BpeTrainer.wordTable(mixed, "text"), 3)

    // 8. publish-time audit: near-dup pairs must not straddle the
    // train/val/test split of the FINAL corpus (post-dedup this
    // should be zero or near it)
    val sp = graft.queries.DedupOps.docSplit(mixed)
    val leaks = graft.queries.DedupOps.candidatePairs(mixed)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .count()

    println(s"[demo] corpus-prep: raw=$n0 exact_deduped=$n1 cluster_deduped=$n1b decontaminated=$n2 " +
      s"quality=$n3 mixed=$n5 packs=$nPacks " +
      s"redactions=${TrainPrep.SCRUB_RULES.map(r => s"${r.name}=${redactions.getAs[Long](r.name)}").mkString(",")} " +
      s"bpe_merges=${merges.map(m => m.left + m.right).mkString("|")} " +
      s"split_leaks=$leaks")
    spark.stop()
  }
}
