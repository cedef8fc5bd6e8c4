package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) tokenizer training — the
  * vocabulary-learning step a training-data pipeline runs after corpus
  * hygiene (dedup/scrub/mix) and before encoding (q61). Classic BPE:
  * start from characters, repeatedly merge the most frequent adjacent
  * symbol pair, left-to-right non-overlapping within each word.
  *
  * Scale shape (100 TB): the corpus collapses to the WORD TABLE
  * (distinct word, count) in one map-side-combined aggregation — the
  * table is vocabulary-sized (Heaps' law: millions of rows, not
  * corpus-sized), so every merge round is one bounded groupBy over
  * exploded adjacent pairs plus a driver-side top-1 of that aggregate.
  * The symbol rewrite is a codegen'd array fold applied in place — no
  * shuffle — and the word table is re-checkpointed per round to keep
  * the plan flat (same lineage-truncation idiom as
  * [[ConnectedComponents]]). The reference pipeline has no tokenizer
  * stage; this extends the mandated text-analysis family.
  */
object BpeTrainer {

  /** One learned merge: `left`+`right` fused after `count` weighted
    * occurrences at merge step `step` (0-based).
    */
  final case class Merge(step: Int, left: String, right: String, count: Long)

  /** Word table from a corpus: (word, wc) via whitespace tokenization,
    * lowercased — one shuffle, map-side combined.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial symbol decomposition: one single-character symbol per
    * codepoint position.
    */
  def toSymbols(words: DataFrame): DataFrame =
    words.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"),
      col("wc"))

  /** Adjacent-pair weighted counts over a symbol table — the argmax
    * candidate table for one merge round.
    */
  def pairCounts(symbols: DataFrame): DataFrame =
    symbols.filter(size(col("syms")) > 1)
      .select(col("wc"), explode(
        zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("left"), b.as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum("wc").as("cnt"))

  /** Left-to-right non-overlapping merge of (left, right) in a symbol
    * array, as a codegen'd fold: append each symbol unless the
    * accumulator ends with `left` and the symbol is `right`, in which
    * case the tail is replaced by the fused symbol. "aaa" under (a,a)
    * becomes ["aa","a"], matching the sequential reference algorithm.
    */
  def mergePair(syms: Column, left: String, right: String): Column = {
    val fused = left + right
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
          .otherwise(concat(acc, array(x))))
  }

  /** ENCODE with a learned merge list: apply every merge in training
    * order to a symbol column (the tokenizer-apply step, q61's
    * id-mapping upstream). Pure column fold — each merge is the same
    * codegen'd `mergePair` rewrite used in training, so
    * encode(train(corpus).merges) over the training corpus reproduces
    * the trainer's final symbol table exactly. Zero-shuffle: the whole
    * chain runs in the scan stage of whatever table it is applied to.
    */
  def encode(word: Column, merges: Seq[Merge]): Column = {
    val init = transform(
      sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))
    merges.sortBy(_.step).foldLeft(init: Column) { (syms, m) =>
      mergePair(syms, m.left, m.right)
    }
  }

  /** Learn `nMerges` merges from a word table. Returns the merge list
    * (the tokenizer artifact) and the final symbol table. Stops early
    * if no adjacent pair remains.
    */
  def train(words: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    var symbols = Pins.pin(toSymbols(words))
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      // driver-side top-1 of a bounded aggregate (vocab-sized, already
      // combined) — deterministic tie-break (count desc, pair asc)
      val top = pairCounts(symbols)
        .orderBy(col("cnt").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val best = top.head
        val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += Merge(step, l, r, c)
        val next = Pins.pin(symbols
          .select(mergePair(col("syms"), l, r).as("syms"), col("wc")))
        Pins.release(symbols)        // superseded by the materialized next
        symbols = next
        step += 1
      }
    }
    (merges.result(), symbols)
  }
}
