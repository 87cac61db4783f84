package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.operators.{BinaryStore, FlatManifest, IvfIndex, VectorOps}

/** Golden manifest texts for both store kinds: the on-disk format is a
  * compatibility contract (directories written by earlier builds must
  * still open), so each literal must parse and re-encode byte for byte,
  * and a store must open over a directory holding only that manifest
  * plus its data.
  */
class ManifestFormatSpec extends SparkSpec {

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  private def manifests(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.startsWith("manifest-")).sorted
      .toSeq

  private val flatText =
    "gens=0,2\ntombs=3\ningest_low=0\ningested=2\nnext_internal=-1\n"

  private val indexText =
    "centroids=1\npqcodebook=2\nnext_internal=-3\ningest_low=4\n" +
      "ingested=6,9\ntombs=7\ncell=0:-2,6\ncell=1:-2,9\ncell=2:\n"

  test("flat manifest: golden text round-trips byte for byte") {
    val snap = FlatManifest.fromText("golden", 3L, flatText)
    assert(snap.gens === Seq(0L, 2L) && snap.tombs === Seq(3L))
    assert(snap.ingestLow === 0L && snap.ingested === Set(2L))
    assert(FlatManifest.toText(snap) === flatText)
  }

  test("flat store opens over only the golden manifest plus its data") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = Files.createTempDirectory("graft_golden_flat").toString
    // build (gen 0) -> out-of-order ingest of gen 2 -> delete (set 3)
    BinaryStore.build(emb.filter($"vec_id" % 5 =!= 0), dir)
    BinaryStore.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0), 2L)
    BinaryStore.delete(spark, dir, emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id"))
    val head = s"$dir/manifest-000000003"
    assert(new String(Files.readAllBytes(Paths.get(head)), UTF_8)
      === flatText, "the writer must emit the golden bytes")
    manifests(dir).filterNot(_ == "manifest-000000003")
      .foreach(m => Files.delete(Paths.get(dir, m)))
    write(head, flatText)
    val want = emb.filter($"vec_id" % 7 =!= 0).select($"vec_id").as[Long]
      .collect().toSet
    assert(BinaryStore.liveCodes(spark, dir).select($"vec_id").as[Long]
      .collect().toSet === want)
    val queries = VectorOps.binaryQueries(emb).limit(4)
    assert(BinaryStore.serve(spark, dir, queries, k = 3, epoch = Some(3L))
      .count() > 0)
    assert(BinaryStore.vacuum(spark, dir).as[(String, Long)].collect()
      .forall(_._2 == 0L), "the golden manifest must reference every dir")
  }

  test("index manifest: golden text with a PQ codebook and parked ingests round-trips") {
    val snap = IvfIndex.IndexManifest.fromText("golden", 12L, indexText)
    assert(snap.centroidsVer === 1L && snap.pqVer === 2L)
    assert(snap.ingestLow === 4L && snap.ingested === Set(6L, 9L))
    assert(snap.nextInternal === -3L && snap.tombs === Seq(7L))
    assert(snap.cells === Map(0L -> Seq(-2L, 6L), 1L -> Seq(-2L, 9L),
      2L -> Seq.empty[Long]))
    assert(IvfIndex.IndexManifest.toText(snap) === indexText)
  }

  test("index opens over only the golden manifest plus its data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_golden_idx").toString
    Seq((0L, Seq(1L, 2L)), (1L, Seq(3L, 4L)), (2L, Seq(5L, 6L)))
      .toDF("cid", "cq").write.parquet(s"$dir/centroids_v1")
    Seq((0, Seq(0L, 1L))).toDF("sub", "cw").write
      .parquet(s"$dir/pqcodebook_v2")
    Seq((10L, 7L, 0L, -2L), (11L, 8L, 0L, 6L), (12L, 9L, 1L, -2L),
        (13L, 1L, 1L, 9L))
      .toDF("vec_id", "code", "cid", "gen")
      .write.partitionBy("cid", "gen").parquet(s"$dir/postings")
    Seq((11L, 7L)).toDF("vec_id", "del").write.partitionBy("del")
      .parquet(s"$dir/tombstones")
    write(s"$dir/manifest-000000012", indexText)
    // the time-travel read existence-checks every referenced directory
    assert(IvfIndex.readSnapshotAt(spark, dir, 12L).pqVer === 2L)
    assert(IvfIndex.liveContents(spark, dir).as[(Long, Long)].collect()
      .toSet === Set((10L, 0L), (12L, 1L), (13L, 1L)))
    assert(IvfIndex.postings(spark, dir).select($"vec_id", $"gen")
      .as[(Long, Long)].collect().toSet
      === Set((10L, 0L), (11L, 6L), (12L, 0L), (13L, 9L)))
    assert(IvfIndex.vacuum(spark, dir).as[(String, Long)].collect()
      .forall(_._2 == 0L), "the golden manifest must reference every dir")
  }
}
