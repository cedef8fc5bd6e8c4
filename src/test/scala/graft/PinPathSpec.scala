package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One pin path: `graft.operators.Pins` is the only code in src/main
  * that pins or caches a frame, so the pin policy (and its release by
  * `Pins.scope`) lives in one file.
  */
class PinPathSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Files allowed to pin on their own, each with its reason. */
  private val allowed = Map(
    "graft/operators/Pins.scala" -> "the pin path itself",
    "graft/operators/ConnectedComponents.scala" ->
      "RDD-level loop: persists and checkpoints its own RDDs and releases each round itself")

  private val pinCall = """localCheckpoint\(|\.persist\(|\.cache\(\)""".r

  test("no localCheckpoint, persist or cache in src/main outside Pins") {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root)
    val hits = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, _) => allowed.contains(rel) }
      .flatMap { case (rel, p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pinCall.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    assert(hits.isEmpty, hits.mkString("pin outside graft.operators.Pins:\n", "\n", ""))
  }
}
