package graft

import java.nio.file.{Files, Paths}

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT starting a
  * SparkSession — the oracle map is static Scala, and gate tooling
  * (assemble/merge/sharded compares) often needs a fresh copy of the
  * full map next to already-dumped query outputs.
  *
  * Usage: OracleDump <outDir>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    write(outDir, SparkEntry.oracleSql)
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to $outDir")
  }

  /** Write `oracles` as one JSON object to <outDir>/oracle_sql.json. */
  def write(outDir: String, oracles: Map[String, String]): Unit = {
    val json = oracles
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — one tab or CR left raw in an oracle's SQL makes
    * the whole file unreadable to a strict JSON parser, and with it
    * every oracle comparison.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
