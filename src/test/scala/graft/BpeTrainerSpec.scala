package graft

import graft.operators.{BpeTrainer, Pins}
import graft.queries.TrainPrep
import org.apache.spark.sql.functions._

class BpeTrainerSpec extends SparkSpec {

  /** Sequential reference BPE: word multiset -> n merges. */
  private def referenceBpe(
      words: Map[String, Long], n: Int): Seq[(String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector } {
        case (_, c) => c }(_ + _)
    val out = Seq.newBuilder[(String, String, Long)]
    var step = 0
    var done = false
    while (step < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (s, c) =>
        s.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), cnt) => (-cnt, a, b) }
        out += ((l, r, c))
        syms = syms.groupMapReduce { case (s, _) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < s.size) {
            if (i + 1 < s.size && s(i) == l && s(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += s(i); i += 1 }
          }
          b.result()
        } { case (_, c2) => c2 }(_ + _)
        step += 1
      }
    }
    out.result()
  }

  test("train matches the sequential reference algorithm") {
    import spark.implicits._
    val corpus = Map(
      "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L,
      "aaa" -> 4L, "banana" -> 2L)
    val words = corpus.toSeq.toDF("word", "wc")
    val (merges, _) = BpeTrainer.train(words, 6)
    val expected = referenceBpe(corpus, 6)
    assert(merges.map(m => (m.left, m.right, m.count)) == expected)
  }

  test("mergePair is left-to-right non-overlapping") {
    import spark.implicits._
    val got = Seq(Seq("a", "a", "a"), Seq("a", "b", "a", "b"), Seq("b", "a", "b"))
      .toDF("syms")
      .select(BpeTrainer.mergePair(col("syms"), "a", "a").as("m1"),
        BpeTrainer.mergePair(col("syms"), "a", "b").as("m2"))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("aa", "a"))
    assert(got(1).getSeq[String](1) == Seq("ab", "ab"))
    assert(got(2).getSeq[String](1) == Seq("b", "ab"))
  }

  /** Sequential reference ENCODE: apply a fixed merge list in order,
    * each merge left-to-right non-overlapping — the exact q296
    * semantics both engines must reproduce.
    */
  private def referenceEncode(
      word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) { case (syms, (l, r)) =>
      val b = Vector.newBuilder[String]
      syms.foreach { s =>
        val acc = b.result()
        if (acc.nonEmpty && acc.last == l && s == r) {
          b.clear(); acc.init.foreach(b += _); b += (l + r)
        } else b += s
      }
      b.result()
    }

  test("encode with the q296 fixed merge list matches the sequential reference") {
    import spark.implicits._
    val merges = TrainPrep.BPE_FIXED_MERGES
    val pairs = merges.sortBy(_.step).map(m => (m.left, m.right))
    // chained merges (th->the, an->and), self-adjacent runs, no-ops
    val words = Seq("the", "then", "thethe", "ththe", "in", "and", "anand",
      "andand", "aaand", "banana", "round", "onion", "outer", "er", "nnn",
      "ouou", "x", "thin", "zzz")
    val got = words.toDF("word")
      .select(col("word"), BpeTrainer.encode(col("word"), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector)
      .toMap
    words.foreach { w =>
      assert(got(w) == referenceEncode(w, pairs), s"word=$w")
    }
  }

  test("q296 symbol rollup: counts are word-count weighted and concat-invariant") {
    val df = TrainPrep.q296BpeEncode(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // encoding never invents or drops characters: total chars across
    // symbols (weighted) == total chars of the filtered corpus words
    val symChars = rows.map(r => r.getString(0).length * r.getLong(1)).sum
    val wordChars = BpeTrainer
      .wordTable(graft.Tables(spark, sfDir).documents, "text")
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .select(sum(length(col("word")) * col("wc"))).collect()(0).getLong(0)
    assert(symChars == wordChars)
    // the chained merge outputs actually occur in the corpus encoding
    val syms = rows.map(_.getString(0)).toSet
    assert(syms.contains("the") || syms.contains("th"),
      "expected th/the merges to fire on English-ish corpus text")
  }

  test("train runs distributed on the corpus and merges reduce symbols") {
    val words = BpeTrainer.wordTable(Tables(spark, sfDir).documents, "text")
    val before = BpeTrainer.toSymbols(words)
      .agg(sum(size(col("syms")))).head.getLong(0)
    val (merges, finalSyms) = BpeTrainer.train(words, 3)
    assert(merges.size == 3)
    assert(merges.forall(_.count > 0))
    val after = finalSyms.agg(sum(size(col("syms")))).head.getLong(0)
    assert(after < before, "merges must shrink total symbol count")
  }

  test("train leaves only its final symbol table pinned") {
    import spark.implicits._
    val words = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
      .toDF("word", "wc")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (merges, finalSyms) = BpeTrainer.train(words, 4)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(merges.size == 4)
    assert(added.size == 1, s"train left ${added.size} symbol tables pinned")
    assert(finalSyms.count() == 4)
    Pins.release(finalSyms)
  }

  test("q64/q65 have oracle entries and return expected shapes") {
    assert(TrainPrep.oracles.contains("q64_bpe_pairs"))
    assert(TrainPrep.oracles.contains("q65_source_token_profile"))
    val q64 = TrainPrep.q64BpePairs(spark, sfDir)
    assert(q64.count() == TrainPrep.BPE_TOP)
    val q65 = TrainPrep.q65SourceTokenProfile(spark, sfDir)
    val rows = q65.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p10, p50, p90) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(p10 <= p50 && p50 <= p90)
      assert(r.getLong(3) <= p10 && p90 <= r.getLong(7))
    }
  }
}
