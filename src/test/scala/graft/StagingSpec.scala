package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Tables
import graft.operators.Staging

/** The staged-artifact machinery five registered queries probe
  * (dedup_cluster / incremental / ngram_jaccard / containment /
  * substring, plus the IVF and PQ indexes): build-at-most-once per
  * key, readiness marker, and source-fingerprint staleness. Keys are
  * namespaced per test so nothing here can race the operator suites'
  * real staged artifacts. */
class StagingSpec extends SparkTestBase {

  test("ensure builds at most once per key and returns the same base") {
    var builds = 0
    val key = "build-once-" + System.nanoTime()
    def run() = Staging.ensure("spectest", key) { tmp =>
      builds += 1
      Files.writeString(tmp.resolve("artifact"), "payload")
    }
    val first = run()
    val second = run()
    assert(builds == 1, "second ensure must serve the existing artifact")
    assert(first == second)
    assert(Files.readString(first.resolve("artifact")) == "payload")
    assert(Files.exists(first.resolve("_GRAFT_READY")),
      "a served artifact must carry the readiness marker")
  }

  test("a failed build leaves nothing behind; the next ensure retries") {
    var builds = 0
    val key = "fail-retry-" + System.nanoTime()
    val boom = intercept[RuntimeException] {
      Staging.ensure("spectest", key) { _ =>
        builds += 1; throw new RuntimeException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    val base = Staging.ensure("spectest", key) { tmp =>
      builds += 1
      Files.writeString(tmp.resolve("artifact"), "ok")
    }
    assert(builds == 2, "a failed build must not poison the key")
    assert(Files.readString(base.resolve("artifact")) == "ok")
  }

  test("fingerprint tracks file content length and mtime") {
    val dir = Files.createTempDirectory("graft-fp-spec")
    try {
      val f = dir.resolve("t.parquet")
      Files.writeString(f, "aaaa")
      val fp1 = Staging.fingerprint(dir.toString, "t.parquet")
      assert(fp1 == Staging.fingerprint(dir.toString, "t.parquet"),
        "fingerprint must be deterministic for an unchanged source")
      Files.writeString(f, "bbbbbbbb") // length change
      val fp2 = Staging.fingerprint(dir.toString, "t.parquet")
      assert(fp1 != fp2, "a rewritten source must change the fingerprint")
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(f).toMillis + 5000))
      val fp3 = Staging.fingerprint(dir.toString, "t.parquet")
      assert(fp2 != fp3, "an mtime bump alone must change the fingerprint")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p): Unit)
    }
  }

  test("fingerprint covers every part file of a directory-shaped source") {
    val dir = Files.createTempDirectory("graft-fp-dir-spec")
    try {
      val table = dir.resolve("t.parquet")
      Files.createDirectories(table)
      Files.writeString(table.resolve("part-0"), "aaaa")
      Files.writeString(table.resolve("part-1"), "bbbb")
      val fp1 = Staging.fingerprint(dir.toString, "t.parquet")
      Files.writeString(table.resolve("part-1"), "bbbbcccc")
      val fp2 = Staging.fingerprint(dir.toString, "t.parquet")
      assert(fp1 != fp2, "rewriting any part file must change the fingerprint")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p): Unit)
    }
  }

  test("restage rebuilds one source dir's artifact; the same prefix staged from another dir stays") {
    val prefix = "spectest-restage-" + System.nanoTime()
    val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    // distinct lengths, so the two sources can never share a fingerprint
    val Seq(a, b) = Seq("a", "bb").map { content =>
      val d = SparkTestBase.tmpDir("graft-restage-spec")
      Files.writeString(java.nio.file.Paths.get(d, "t.parquet"), content)
      d
    }
    val art = Staging.Artifact("Spec", prefix, "t", (_, dir) =>
      Staging.ensure(prefix, Staging.fingerprint(dir, "t.parquet")) { tmp =>
        builds(dir) += 1
        Files.writeString(tmp.resolve("artifact"), dir)
      })
    val Seq(baseA, baseB) = Seq(a, b).map(art.ensure(null, _).asInstanceOf[java.nio.file.Path])
    try {
      assert(baseA != baseB)
      Staging.restage(art, null, a)
      assert(builds(a) == 2, "the restaged dir's artifact must be rebuilt")
      assert(builds(b) == 1, "another source dir's artifact must not be rebuilt")
      assert(Files.readString(baseA.resolve("artifact")) == a)
      assert(Files.exists(baseB.resolve("_GRAFT_READY")),
        "the same prefix staged from another source dir must stay in place")
      val never = Staging.Artifact("Never", prefix + "-x", "t", (_, _) => ())
      intercept[IllegalStateException](Staging.restage(never, null, a))
    } finally Seq(baseA, baseB).foreach(Staging.deleteRecursively)
  }

  test("every staged artifact's parquet dirs read with the schema Spark infers") {
    Staging.stageAll(spark, Sf, "spec")
    // each Spark write leaves _SUCCESS at its output root
    val roots = Staging.stagedDirs.filter(Files.isDirectory(_)).flatMap { base =>
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
        .map(_.getParent.toString).toSeq
      finally walk.close()
    }.distinct
    assert(roots.size >= Staging.artifacts.size, s"too few staged parquet dirs: $roots")
    for (p <- roots)
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
  }
}
