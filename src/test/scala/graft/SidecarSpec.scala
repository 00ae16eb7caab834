package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stored-artifact lifecycle: a sidecar is served only while its marker
  * matches the current version and the source fixture's files. */
class SidecarSpec extends AnyFunSuite {
  import SparkTestSession._

  private def rm(p: String): Unit = {
    val f = Paths.get(p)
    if (Files.exists(f))
      Files.walk(f).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
  }

  test("an in-place fixture edit rebuilds the stored kNN graph instead of serving stale edges") {
    val dir = Files.createTempDirectory("graft-stale-fixture").toString
    val sidecar = ops.Fixtures.sidecarPath(dir, "knngraph")
    try {
      Files.copy(Paths.get(s"$sf/embeddings.parquet"), Paths.get(s"$dir/embeddings.parquet"))
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val cut = n / 2
      def maxSrc(): Long = ops.Similarity.storedKnnGraph(spark, dir)
        .agg(max(col("src_id"))).head().getLong(0)
      assert(maxSrc() >= cut, "fixture too small to halve")
      // the edit: keep only the lower half of the corpus, written in place
      val staged = s"$dir/staged.parquet"
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < cut)
        .write.parquet(staged)
      Files.delete(Paths.get(s"$dir/embeddings.parquet"))
      Files.move(Paths.get(staged), Paths.get(s"$dir/embeddings.parquet"))
      assert(maxSrc() < cut, "served the graph built from the pre-edit fixture")
      def edges(df: org.apache.spark.sql.DataFrame) =
        df.select("src_id", "rank", "nbr_id", "cos").collect().map(_.toSeq).toSet
      assert(edges(ops.Similarity.storedKnnGraph(spark, dir)) ===
        edges(ops.Similarity.qKnnGraph(spark, dir)))
    } finally { rm(sidecar); rm(dir) }
  }

  test("sidecar helper: a fresh marker skips the build, a version mismatch rebuilds, install stamps fresh") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-sidecar").toString
    val paths = Seq("univocab", "bpemerges").map(ops.Fixtures.sidecarPath(dir, _))
    try {
      Seq((0L, "a b")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      var builds = 0
      def build = { builds += 1; Seq(builds).toDF("x") }
      def read() = ops.Fixtures.stored(spark, dir, "univocab")(build)
        .as[Int].collect().toSeq
      assert(read() === Seq(1))
      assert(read() === Seq(1))
      assert(builds === 1, "a fresh sidecar must not rebuild")
      // the marker records the version and the source table's files
      val marker = Paths.get(paths.head, ops.Fixtures.Marker)
      val stamp = Files.readString(marker)
      assert(stamp.startsWith(s"v${ops.Fixtures.Version}\n"))
      assert(stamp.linesIterator.drop(1).forall(_.startsWith("documents.parquet")))
      assert(stamp.linesIterator.size > 1, "the source fixture's files are not fingerprinted")
      // a sidecar stamped by another version rebuilds
      Files.writeString(marker, stamp.replaceFirst("^v\\d+", "v0"))
      assert(read() === Seq(2))
      assert(builds === 2)
      // an installed artifact is served as-is, without a build
      ops.Fixtures.install(dir, "bpemerges", Seq(42).toDF("x"))
      assert(ops.Fixtures.stored(spark, dir, "bpemerges")(build)
        .as[Int].collect().toSeq === Seq(42))
      assert(builds === 2, "an installed sidecar must be fresh")
    } finally { paths.foreach(rm); rm(dir) }
  }

  test("touching only a checksum file or _SUCCESS keeps the sidecar fresh") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-sidecar-crc").toString
    val path = ops.Fixtures.sidecarPath(dir, "univocab")
    try {
      Seq((0L, "a b")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      var builds = 0
      def read() = ops.Fixtures.stored(spark, dir, "univocab") {
        builds += 1; Seq(builds).toDF("x") }.as[Int].collect().toSeq
      assert(read() === Seq(1))
      val table = Paths.get(dir, "documents.parquet")
      val touched = Files.list(table).toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.startsWith(".") ||
          p.getFileName.toString == "_SUCCESS")
      assert(touched.exists(_.getFileName.toString.endsWith(".crc")))
      assert(touched.exists(_.getFileName.toString == "_SUCCESS"))
      val later = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000L)
      touched.foreach { p =>
        Files.write(p, Array[Byte](0), java.nio.file.StandardOpenOption.APPEND)
        Files.setLastModifiedTime(p, later)
      }
      assert(read() === Seq(1))
      assert(builds === 1, "a checksum or _SUCCESS touch rebuilt the sidecar")
    } finally { rm(path); rm(dir) }
  }
}
