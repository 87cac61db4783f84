package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` at one harness: the benchmark lives in `flockbench/`,
  * so the program carries only its five runnable mains, and every one of
  * them builds its session through [[Session.local]]. Also keeps every
  * store on one generation kernel: manifest commits, generation
  * publishes and the lifecycle bodies live only in `GenStore`; the
  * stores' serving relations are pinned only in the one `ServingCache`;
  * the binary stores' vectors are one directory per generation, with no
  * bucket partition;
  * `IvfIndex` on one posting writer and one layout probe; and the LSH
  * family on one
  * banding kernel in `TextOps` (one MinHash band fold, one SimHash
  * blocking, one operating-point candidate builder). Scans the sources;
  * starts no Spark session.
  */
class HarnessGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val KeptMains =
    Set("Verify", "Plans", "PlanSweep", "MakeBigSf", "StreamDemo")
      .map(n => s"graft/$n.scala")

  /** (path under src/main/scala, text) of every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  private def count(text: String, re: scala.util.matching.Regex): Int =
    re.findAllMatchIn(text).size

  test("one SparkSession builder in src/main, the factory's") {
    val sites = sources
      .map { case (p, t) => p -> count(t, """SparkSession\.builder\(""".r) }
      .filter(_._2 > 0)
    assert(sites == Seq("graft/Session.scala" -> 1),
      s"builder sites outside graft.Session: $sites")
  }

  test("every store's generation lifecycle is written only in GenStore") {
    val kernel = "graft/operators/GenStore.scala"
    val copies = for {
      (p, t) <- sources if p != kernel
      re <- Seq("""IndexManifest\.commit\(""".r,
        """FlatManifest\.commit\(""".r, """partitionOverwriteMode""".r,
        """\.gen-tmp-""".r)
      if count(t, re) > 0
    } yield p -> re.toString
    assert(copies.isEmpty, s"lifecycle copies outside $kernel: $copies")
    val (_, ivf) = sources.find(_._1 == "graft/operators/IvfIndex.scala").get
    val bodies =
      """def\s+(delete|tombstonesOf|masked|ingest|compact|gcSweep|vacuum)\b"""
        .r.findAllMatchIn(ivf).map(_.group(1)).toSeq
    assert(bodies.isEmpty, s"IvfIndex writes its own lifecycle bodies: $bodies")
  }

  test("serving relations are pinned only in the one serving cache") {
    val cache = "graft/operators/ServingCache.scala"
    val stores = (Seq("GenStore", "BinaryStore", "IvfBinaryStore",
      "MaxSimStore", "IvfIndex", "FlatManifest")
      .map(n => s"graft/operators/$n.scala") :+
      "graft/streaming/StreamOps.scala").toSet
    val copies = for {
      (p, t) <- sources if stores(p)
      re <- Seq("""\.persist\(""".r, """\.cache\(\)""".r,
        """ConcurrentHashMap""".r, """mutable\.(Hash)?Map""".r,
        """\b(relCache|metaCache|cachedRels|invalidateCache)\b""".r)
      if count(t, re) > 0
    } yield p -> re.toString
    assert(copies.isEmpty, s"serving caches outside $cache: $copies")
    val pins = sources.collect { case (`cache`, t) =>
      count(t, """\.persist\(""".r) }
    assert(pins == Seq(1), s"$cache pins in ${pins.sum} places, not one")
  }

  test("the binary stores' vectors root has no bucket fan-out") {
    val copies = for {
      n <- Seq("GenStore", "BinaryStore", "IvfBinaryStore")
      p = s"graft/operators/$n.scala"
      (_, t) <- sources.find(_._1 == p).toSeq
      re <- Seq("""\bBuckets\b""".r, "\"bucket\"".r)
      if count(t, re) > 0
    } yield p -> re.toString
    assert(copies.isEmpty, s"bucket partitioning in the binary stores: $copies")
  }

  test("IvfIndex writes postings in one place and reads its layout from the store") {
    val (_, t) = sources.find(_._1 == "graft/operators/IvfIndex.scala").get
    val writer = t.indexOf("private def writePostings(")
    val writerEnd = t.indexOf("\n  }\n", writer)
    val publishes = """writeRoot\(""".r.findAllMatchIn(t).map(_.start).toSeq
    assert(writer >= 0 && publishes.size == 1 &&
      publishes.forall(w => w > writer && w < writerEnd),
      s"posting publishes outside IvfIndex.writePostings at offsets $publishes")
    assert(count(t, """(?<!read)\.parquet\(postDir\(""".r) == 0,
      "IvfIndex writes postings without the generation publish")
    assert(count(t, """postingsOf\([^)]*\)\s*\.columns""".r) == 0,
      "IvfIndex infers a store's layout from a postings schema read")
    val labelChecks = """(\w+)(?:\([^()]*\))?\.columns\.contains\("label"\)""".r
      .findAllMatchIn(t).map(_.group(1)).toSeq
    assert(labelChecks.forall(_ == "newVecs"),
      s"label checks on stored postings, not on an ingested batch: $labelChecks")
  }

  test("each LSH banding decision is written once in src/main") {
    def total(lit: String): Int = sources
      .map { case (_, t) => count(t, scala.util.matching.Regex.quote(lit).r) }.sum
    val want = Seq("xxhash64(b, slice(sig" -> 1, "shiftright(sh, b*16)" -> 1,
      "def candsOf" -> 0)
    val got = want.map { case (lit, _) => lit -> total(lit) }
    assert(got == want, s"banding decision copies (text -> count): $got")
  }

  test("def main only in the five kept mains") {
    val mains = sources
      .filter { case (_, t) => count(t, """\bdef\s+main\s*\(""".r) > 0 }
      .map(_._1).toSet
    assert(mains.subsetOf(KeptMains),
      s"mains outside ${KeptMains.toSeq.sorted}: ${mains.diff(KeptMains)}")
  }
}
