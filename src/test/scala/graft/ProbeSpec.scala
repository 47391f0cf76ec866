package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Staging

/** Source scans that keep the measurement surface to one way of doing
  * each thing: one session builder, one parquet reader, one
  * staged-artifact registry, and one probe CLI that rejects what it does
  * not know. */
class ProbeSpec extends AnyFunSuite {

  private val sources: Map[Path, String] = {
    val root = Paths.get("src", "main", "scala")
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p) -> Files.readString(p)).toMap
    } finally walk.close()
  }

  test("SparkSession.builder() appears in src/main only in SessionTuning") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val sites = sources.toSeq.flatMap { case (p, src) =>
      builder.findAllIn(src).map(_ => p.getFileName.toString)
    }
    assert(sites == Seq("SessionTuning.scala"),
      s"every session must come from SessionTuning.measured(); builder sites: $sites")
  }

  test("a batch read in src/main passes a schema: Tables.parquet's footer schema or EntryIO's") {
    def sites(re: String) = sources.toSeq.flatMap { case (p, src) =>
      re.r.findAllIn(src).map(_ => p.getFileName.toString)
    }
    val inferring = sites("""\.read\s*\.\s*(parquet|format|load)\s*\(""")
    assert(inferring.isEmpty, "a read without a schema runs a schema-inference job; " +
      s"read through Tables.parquet instead: $inferring")
    val fixed = sites("""\.read\s*\.\s*schema\s*\(""").distinct.sorted
    assert(fixed == Seq("EntryIO.scala", "Tables.scala"),
      s"schema-passing batch reads outside Tables.parquet and EntryIO: $fixed")
  }

  test("every Staging.ensure prefix literal matches exactly one registry entry, and back") {
    val literal = """Staging\s*\.\s*ensure\(\s*"([^"]+)"""".r
    val found = sources.values.toSeq.flatMap(literal.findAllMatchIn(_).map(_.group(1)))
    val prefixes = Staging.artifacts.map(_.prefix)
    val names = Staging.artifacts.map(_.name)
    assert(prefixes.distinct == prefixes, s"duplicate registry prefixes: $prefixes")
    assert(names.distinct == names, s"duplicate registry names: $names")
    assert(found.distinct == found,
      s"a prefix is staged by more than one site: ${found.diff(found.distinct)}")
    assert(found.toSet -- prefixes.toSet == Set.empty,
      "staged prefixes missing from Staging.artifacts")
    assert(prefixes.toSet -- found.toSet == Set.empty,
      "Staging.artifacts prefixes no Staging.ensure site stages")
  }

  test("graft.Probe rejects no command, an unknown one, and malformed arguments") {
    for (args <- Seq(Nil, List("bogus"), List("profile", "dir"),
        List("overhead", "x"), List("overhead", "0"), List("plans"),
        List("store", "extra"), List("scale")))
      assert(Probe.command(args).isEmpty, s"accepted $args")
    for (args <- Seq(List("store"), List("overhead"), List("staging", "dir"),
        List("profile", "dir", "top5", "3"), List("staging-scale", "dir")))
      assert(Probe.command(args).isDefined, s"rejected $args")
  }
}
