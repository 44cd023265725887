package graft.queries

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.io.TempDirs

/** The registry's build-once memo and the temp directories its builds
  * write into. Every key here is spec-private, so no registry query
  * shares an entry with these checks. */
class RegistryMemoSpec extends SparkSpec {
  import RegistryMemo.{current, memo, memoDir}

  test("each (kind, key) builds once") {
    var builds = 0
    def get(key: String): String = memo("spec-count", key) { builds += 1; s"v-$key" }
    assert(get("a") == "v-a")
    assert(get("a") == "v-a")
    assert(builds == 1)
    assert(get("b") == "v-b")
    assert(builds == 2)

    var writes = 0
    val p1 = memoDir("spec-dir", "a") { p => writes += 1; Files.writeString(Paths.get(p, "x"), "x") }
    val p2 = memoDir("spec-dir", "a") { _ => writes += 1 }
    assert(p1 == p2 && writes == 1)
    assert(Paths.get(p1).getFileName.toString.startsWith("graft-spec-dir"))
    assert(Files.exists(Paths.get(p1, "x")))
  }

  test("IVF quantizers with different nLists do not collide") {
    import spark.implicits._
    val emb = (0 until 64).map(i =>
      (i.toLong, Seq(i % 4, (i / 4) % 4, i % 7, i % 3).map(_.toDouble))).toDF("vec_id", "embedding")
    val dir = "RegistryMemoSpec/ivf"
    val c16 = PipelineQueries.ivfCentroids(emb, dir, nLists = 16)
    val c8 = PipelineQueries.ivfCentroids(emb, dir, nLists = 8)
    assert(c16.size == 16)
    assert(c8.size == 8)
    assert(PipelineQueries.ivfCentroids(emb, dir, nLists = 16) eq c16)
  }

  test("current is None before any request and follows the last request") {
    assert(current[String]("spec-current").isEmpty)
    assert(memo("spec-current", "dirA")("a") == "a")
    assert(current[String]("spec-current").contains("a"))
    assert(memo("spec-current", "dirB")("b") == "b")
    assert(current[String]("spec-current").contains("b"))
    assert(memo("spec-current", "dirA")("not rebuilt") == "a")
    assert(current[String]("spec-current").contains("a"))
  }

  test("a build that requests another kind returns") {
    val outer = memo("spec-outer", "k")(memo("spec-inner", "k")(20) + 1)
    assert(outer == 21)
    assert(current[Int]("spec-inner").contains(20))
  }

  test("TempDirs.delete removes a tree it created and nothing else") {
    val dir = TempDirs.create("graft-spec-tree")
    Files.createDirectories(dir.resolve("a/b"))
    Files.writeString(dir.resolve("a/b/c.txt"), "c")
    Files.writeString(dir.resolve("top.txt"), "t")
    val other = Paths.get(tempDir("graft-spec-other"))
    val foreign = Files.createDirectories(other.resolve("kept"))

    TempDirs.delete(dir)
    assert(!Files.exists(dir))
    assert(Files.isDirectory(other))
    TempDirs.delete(foreign) // not made by create: left alone
    assert(Files.isDirectory(foreign))
  }
}
