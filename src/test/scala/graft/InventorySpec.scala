package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The declared query inventory is six maps merged with `++`, which
  * silently keeps the LAST of two equal keys: a duplicate name would
  * shadow a query, and an oracle entry without a query would never run.
  * Plus two source guards: pins are made only through `Pins` and
  * released only through their scope.
  */
class InventorySpec extends AnyFunSuite {

  private val maps = Seq(
    "Core" -> CoreQueries.queries.keySet, "Relational" -> RelationalQueries.queries.keySet,
    "Function" -> FunctionQueries.queries.keySet, "Llm" -> LlmQueries.queries.keySet,
    "Extra" -> ExtraQueries.queries.keySet, "Stat" -> StatQueries.queries.keySet)

  test("query keys are unique across the six inventory maps") {
    val dups = maps.flatMap { case (m, ks) => ks.toSeq.map(_ -> m) }
      .groupBy(_._1).collect { case (k, owners) if owners.size > 1 => k -> owners.map(_._2) }
    assert(dups.isEmpty, s"query keys declared in more than one map: $dups")
    assert(SparkEntry.queries.size == maps.map(_._2.size).sum)
  }

  test("every oracle key names a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("Pins.release is called only by Pins and Iterate: every other pin is scoped") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !Set("Pins.scala", "Iterate.scala")(p.getFileName.toString))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("Pins.release(") => s"$p:${i + 1}"
      }).toList
    finally files.close()
    assert(hits.isEmpty, s"hand-rolled pin releases (use Pins.scoped): ${hits.mkString(", ")}")
  }

  test("localCheckpoint(false) appears only in Pins, the one pin that counts what it pins") {
    import scala.jdk.CollectionConverters._
    // Sources.jsonLinesQuarantine returns a lazy pin that its caller's first
    // action materializes, and nothing counts it
    val allowed = Set("Sources.scala" -> "jsonLinesQuarantine")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pins.scala")
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
        val defName = """\bdef (\w+)""".r
        lines.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(false)") =>
            val enclosing = lines.take(i + 1).reverseIterator
              .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption()
            (p.getFileName.toString, enclosing.getOrElse(""), s"$p:${i + 1}")
        }
      }.toList
    finally files.close()
    val bad = hits.filterNot { case (file, fn, _) => allowed((file, fn)) }.map(_._3)
    assert(bad.isEmpty, s"lazy pins outside Pins (use Pins.counted): ${bad.mkString(", ")}")
  }
}
