package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Field extracted from whitespace-tokenized lines: token indices plus
  * a primitive kind. Multi-index fields become array<double>.
  */
final case class BlockField(name: String, indices: Seq[Int], kind: String) // "double" | "long" | "vec"

/** Config for one NBODY6 block-structured text format (reference:
  * src/nbody6/parser/base.py FileParserConfig — header prefix, header
  * line count, optional footer prefix, token schemas).
  */
final case class BlockConfig(
    headerPrefix: String,
    headerLength: Int,
    footerPrefix: Option[String],
    header: Seq[BlockField],
    data: Seq[BlockField])

/** File-parallel reader for NBODY6 block text files (reference:
  * src/nbody6/parser/base.py:241 _iter_block).
  *
  * Scale design: one NBODY6 run emits one modest file per format, but a
  * survey has thousands of runs — files are never split (binaryFiles ->
  * flatMap blocks), and `sim_id` (parent directory name) + block `time`
  * become the partition keys of everything downstream. Block boundaries
  * never straddle a split because each task owns whole files; see
  * `read` for how many files a task owns.
  */
object BlockText {

  /** Iterate (headerTokens, dataRows) blocks over a LINE stream —
    * faithful to the reference: blank lines skipped, footer lines
    * skipped, N header lines concatenated, a new header starts the
    * next block, partial trailing header is an error. Incremental: one
    * block is materialized at a time, so a task never holds a whole
    * multi-GB file's text (the raw bytes stream straight from the
    * input; see `read`).
    */
  def blockIter(raw: Iterator[String], cfg: BlockConfig): Iterator[(Array[String], Seq[Array[String]])] = {
    val it = raw.map(_.trim).filter(_.nonEmpty)
      .filterNot(l => cfg.footerPrefix.exists(l.startsWith))
      .buffered
    def isHeader(l: String): Boolean =
      cfg.headerPrefix.isEmpty || l.startsWith(cfg.headerPrefix)
    new Iterator[(Array[String], Seq[Array[String]])] {
      override def hasNext: Boolean = it.hasNext
      override def next(): (Array[String], Seq[Array[String]]) = {
        val headerLines = scala.collection.mutable.ArrayBuffer[String]()
        while (headerLines.size < cfg.headerLength) {
          if (!it.hasNext)
            throw new IllegalArgumentException("Incomplete header at end of file.")
          val l = it.next()
          if (!isHeader(l))
            throw new IllegalArgumentException(s"Expected a header line, got: '$l'")
          headerLines += l
        }
        val dataRows = scala.collection.mutable.ArrayBuffer[Array[String]]()
        // empty prefix (densCentre): every line is a header -> no data rows
        while (it.hasNext && !isHeader(it.head)) {
          dataRows += it.next().split("\\s+")
        }
        val headerTokens = headerLines.toArray
          .flatMap(_.stripPrefix(cfg.headerPrefix).trim.split("\\s+"))
        (headerTokens, dataRows.toSeq)
      }
    }
  }

  /** Blocks of one in-memory string (test/fixture convenience). */
  def blocks(content: String, cfg: BlockConfig): Iterator[(Array[String], Seq[Array[String]])] =
    blockIter(content.linesIterator, cfg)

  private def sparkType(kind: String): DataType = kind match {
    case "double" => DoubleType
    case "long" => LongType
    case "vec" => ArrayType(DoubleType, containsNull = false)
  }

  private def convert(tokens: Array[String], f: BlockField): Any = f.kind match {
    case "double" => tokens(f.indices.head).toDouble
    case "long" => tokens(f.indices.head).toDouble.toLong
    case "vec" => f.indices.map(i => tokens(i).toDouble)
  }

  /** Parse every file matching `glob` into (headers, rows) DataFrames.
    * Both carry `sim_id` (parent dir name) and the block `time`
    * (rounded to 2 decimals, reference base.py:215). Header fields are
    * duplicated per data row only in the headers frame — rows stay
    * narrow for the big tables.
    */
  def read(spark: SparkSession, glob: String, cfg: BlockConfig): (DataFrame, DataFrame) = {
    val headerSchema = StructType(
      StructField("sim_id", StringType) :: StructField("time", DoubleType) ::
        cfg.header.filter(_.name != "time")
          .map(f => StructField(f.name, sparkType(f.kind))).toList)
    val rowSchema = StructType(
      StructField("sim_id", StringType) :: StructField("time", DoubleType) ::
        cfg.data.map(f => StructField(f.name, sparkType(f.kind))).toList)

    def blockTime(h: Array[String]): Double =
      math.rint(cfg.header.find(_.name == "time")
        .map(f => convert(h, f).asInstanceOf[Double]).getOrElse(0.0) * 100) / 100

    // binaryFiles streams bytes instead of materializing each file as
    // one String (wholeTextFiles): with the incremental blockIter a
    // task's footprint is one PARSED block set, not 2x the raw text —
    // the robust shape for an occasional multi-GB run file. A split
    // holds whole files, so block boundaries never straddle one; but it
    // is not one file per task: binaryFiles caps a split at
    // (total bytes + spark.files.openCostInBytes per file) / default
    // parallelism, at least the open cost (4 MB by default), and fills
    // it with whole files by their actual size. So 16 files of ~50 KB
    // on 4 cores are read by ONE task; files of megabytes spread out.
    val files = spark.sparkContext.binaryFiles(glob)
    val parsed = files.map { case (path, pds) =>
      val simId =
        path.stripSuffix("/").split('/').dropRight(1).lastOption.getOrElse("sim")
      // Keep only the LAST block per rounded timestamp, like the
      // reference's overwrite-with-warning (base.py:215-229): a dirty
      // file with duplicate times would otherwise fan out every
      // downstream (sim_id, time) join and silently double-count.
      val byTime =
        scala.collection.mutable.LinkedHashMap[Double, (Array[String], Seq[Array[String]])]()
      val in = pds.open()
      try {
        val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          in, java.nio.charset.StandardCharsets.UTF_8))
        val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
        blockIter(lines, cfg).foreach(b => byTime(blockTime(b._1)) = b)
      } finally in.close()
      (simId, byTime.toSeq)
    }

    val headerRows = parsed.flatMap { case (simId, bs) =>
      bs.map { case (time, (h, _)) =>
        Row.fromSeq(simId :: time ::
          cfg.header.filter(_.name != "time").map(f => convert(h, f)).toList)
      }
    }
    val dataRows = parsed.flatMap { case (simId, bs) =>
      bs.flatMap { case (time, (_, rows)) =>
        rows.map(r => Row.fromSeq(simId :: time :: cfg.data.map(f => convert(r, f)).toList))
      }
    }
    (spark.createDataFrame(headerRows, headerSchema),
      spark.createDataFrame(dataRows, rowSchema))
  }
}
