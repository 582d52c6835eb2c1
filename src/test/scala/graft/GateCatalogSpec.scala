package graft

import graft.config.ConfigLoader
import graft.config.Json._
import graft.gates.GateFiles
import org.scalatest.funsuite.AnyFunSuite

/** The gate catalogue's files and its Scala half agree. Verify logs a
  * gate that fails to build and carries on, so a gate lost from
  * `gates/` would otherwise only show up as a missing output. No Spark
  * session: nothing here builds a pipeline. */
class GateCatalogSpec extends AnyFunSuite {

  private val dir = new java.io.File("src/main/resources/gates")

  test("every INDEX line has its .yaml file, and no name repeats") {
    // the loader fails on a line without its file
    val names = GateFiles.configs.map(_._1)
    assert(names.distinct == names, "a gate is listed twice in gates/INDEX")
  }

  test("every .yaml and .sql file in gates/ belongs to a gate") {
    assert(dir.isDirectory, s"no gate directory at ${dir.getAbsolutePath}")
    val files = dir.list().toSeq.filter(_ != "INDEX")
    val gates = SparkEntry.queries.keySet
    val indexed = GateFiles.configs.map(_._1).toSet
    val orphans = files.filterNot {
      case f if f.endsWith(".yaml") => indexed(f.stripSuffix(".yaml"))
      case f if f.endsWith(".sql") => gates(f.stripSuffix(".sql"))
      case _ => false
    }
    assert(orphans.isEmpty, s"files in gates/ no gate owns: $orphans")
  }

  test("a gate with both a .sql file and a generated oracle fails to load") {
    val e = intercept[IllegalArgumentException](
      GateFiles.oracles(Seq("q1_pricing", "q2_filter"),
        Map("q1_pricing" -> "SELECT 1")))
    assert(e.getMessage.contains("q1_pricing"))
    // and the real catalogue has no such gate: its oracles load
    assert(SparkEntry.oracleSql.nonEmpty)
  }

  test("every oracle names a gate") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a gate: $orphans")
  }

  test("every file gate resolves and declares its output's module") {
    GateFiles.configs.foreach { case (name, (out, config)) =>
      val root = withClue(s"$name: ") {
        ConfigLoader.resolve(config, Map("dir" -> "/x")).root
      }
      val declared = Seq("sources", "transforms", "sinks")
        .flatMap(root.arrOf).flatMap(_.str("name")).toSet
      assert(declared(out.split('.').head),
        s"$name outputs $out but declares only $declared")
    }
  }
}
