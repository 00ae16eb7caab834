package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The export-layout builders write each call's output to a scratch
  * directory; every such directory must be deleted when the JVM exits. */
class ExportOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every directory the ExportOps builders write is deleted at JVM exit") {
    // a private java.io.tmpdir, so scratch directories of other
    // processes on the host are not counted; the session (which keeps
    // its own directories there) exists before the switch
    val session = spark
    val tmp = Files.createTempDirectory("graft-export-ops-spec")
    val saved = System.getProperty("java.io.tmpdir")
    try {
      System.setProperty("java.io.tmpdir", tmp.toString)
      val e = ops.ExportOps
      try Seq[(SparkSession, String) => DataFrame](
          e.qExportRoundtrip, e.qSchemaMerge, e.qJsonlRoundtrip, e.qCsvRoundtrip,
          e.qOrcRoundtrip, e.qPartitionPrune, e.qZorderScan, e.qHilbertScan)
        .foreach(q => q(session, sf).count())
      finally System.setProperty("java.io.tmpdir", saved)
      val made = tmp.toFile.listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("graft-")).toSeq
      assert(made.size === 8, made)
      made.foreach(d => assert(GraftShims.deletedAtExit(d), s"$d is never deleted"))
    } finally Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }
}
